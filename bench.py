#!/usr/bin/env python3
"""Headline benchmark: runs the representative query set at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:

    {"metric": "headline_total", "value": <sec>, "unit": "sec",
     "queries": {"q1_pricing_summary": <sec>, ...}, "sf": 0.1}

Methodology (matches how BASELINE.md's reference numbers were produced —
sustained steady-state throughput, e.g. README.md:519-523's rows/s claims):

* every query/leg runs ONCE untimed (warmup), then TWICE timed; the MINIMUM
  is recorded (hyperfine/criterion practice — robust to one-off JVM GC or
  scheduler stalls, observed as a 23s outlier on a leg that repeatably runs
  in ~1s).  The warmup absorbs one-time session costs a long-lived cluster
  amortizes — JVM JIT of whole-stage-codegen'd stages, Python worker pool
  spin-up, OS page cache for the parquet inputs.  A Rust binary has no such
  first-run tax, so timing Spark's cold first execution would compare JVM
  startup against Rust compute.
* scratch output (xlsx/csv sink legs) goes to tmpfs (/dev/shm) when present:
  the VM's virtio disk throttles writeback unpredictably (measured 4-28s for
  the identical 6M-row CSV write); tmpfs isolates engine throughput from disk
  jitter.  The reference's numbers are local-disk on unthrottled hardware.
* each timed run is a full materialization through the noop sink (no driver
  collect, no caching of the timed DataFrame itself).
* EVERY timed run's duration is recorded in the output ("runs", plus
  "n_runs"): round-over-round deltas are decidable as regression vs noise
  from the artifact alone (round 3 recorded a 3x swing on two legs with
  identical code — environment contention — and nothing in the JSON could
  prove it; now the per-run spread does).
* ADAPTIVE RE-RUNS: when the spread across the TRAILING 3 timed runs
  exceeds 1.5x after the standard timed runs, up to 2 extra timed runs
  are added — a min taken from a tight set is trustworthy, a min from a
  2-run set with a 2x+ spread is a coin flip.  (Trailing window, r13:
  the r12 all-runs spread was monotone — one early outlier forced the
  loop to its cap every time; three consecutive in-band runs now end
  it.)  A second rule targets JIT transients: while
  the LATEST run is the minimum and still >10% faster than the run
  before it (the sequence is still descending, i.e. HotSpot is still
  compiling the generated code), keep adding runs up to a higher bound.
  Measured on dedup_minhash_lsh at sf0.1: the identical physical plan
  executes at 9.6s / 11.4s / 6.1s / 1.7s over four back-to-back runs —
  the 128-min HashAggregate's generated methods take several
  executions to reach C2-compiled steady state, and a min recorded
  before that point reports the JIT warmup, not the operator.
* SCALE LADDER: the shuffle-heavy dedup/graph legs re-run at 1x/3x/10x
  documents (union-inflated with per-copy token prefixes so copies share
  NO shingles — pair output scales linearly and the ladder measures the
  pipeline, not a quadratic identical-copy pair blowup).  The detail
  file gains a "scale_ladder" section with per-leg times and the 10x
  drift ratio t_10x / (10 * t_1x): <= 1 is sub-linear (fixed job
  overhead amortizing), > 1.3 flags super-linear shuffle behavior worth
  root-causing.
* STEADY-STATE LEGS: the JIT-heavy ladder legs (minhash/simhash/
  components) are timed AFTER the scale ladder, whose 1x rungs execute
  the identical plans several times — by then HotSpot has C2-compiled
  the large generated aggregates and the leg reports the operator, not
  residual JIT (BENCH_r03-r05 showed dedup_minhash_lsh's headline min
  drifting 2.19->3.50s on an unchanged plan while the same plan's
  ladder 1x rung ran 2.8s minutes later in the same process).
* SERVING LADDER (r8): the two stored-artifact serving paths
  (bm25_search_stored, quality_classifier_stored) re-run at 1x/10x
  CORPUS with the query/score load FIXED — per path the detail file
  reports t_10x/t_1x; the stored path (prebuilt postings / pretrained
  model) should be near FLAT while the cold path (re-tokenize /
  re-train the corpus) grows with it.  The increment_ladder
  convention applied to the serving claim.
* I/O NOISE BANDS (r8): the xlsx legs run 3 base timed runs and the
  detail file carries min/max/spread per I/O leg, so environmental
  drift (r7: -10/-18% on unchanged plans) is decidable from the
  artifact alone.
* OUTPUT SPLIT: the final stdout line is COMPACT — {"metric", "value",
  "unit", "sf", "queries": {leg: min_sec}, "detail": path} — because
  the driver captures only a bounded tail of output and the r5 line
  (with per-run arrays + the ladder inlined) outgrew it, making
  BENCH_r05.json unparseable.  r12: the tail window is 2,000 chars
  and the r11 compact line overflowed it again (parsed: null), so the
  line now HARD-FITS the window — 2-decimal seconds, rates in the
  detail file only; r14 (r13 verdict #2): compact JSON separators +
  the optional "detail" key sheds first, so all 69 timed legs fit
  (queries_omitted back to 0); cheapest legs dropped from the stdout
  copy (queries_omitted counts them) only if legs outgrow even that.
  Everything
  else (per-run arrays, the scale ladder, rows/s rates, per-leg scope
  tags) goes to bench_detail.json beside this script.
* LEG SCOPE TAGS: each leg carries a scope tag in the detail file;
  the tag is bumped whenever the TIMED PLAN or the measurement
  methodology for that leg changes, so cross-round comparisons of a
  same-named leg are decidable from the artifacts alone (r5's
  text_analysis absorbed the Gopher metrics — +60% on an unchanged
  name — and nothing in the JSON said so).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: catalog queries timed by the bench (coverage across operator families,
#: weighted toward shuffle-heavy shapes that stress scale behavior)
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "join_asof_forward_tolerance",
    "window_topn_per_group",
    "sessionize_events",
    "setop_intersect_except",
    "agg_grouping_multi",
    "text_analysis",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_embedding",
    "sim_topk_bruteforce",
    "multimodal_features",
]

#: legs timed AFTER the scale ladder (see module docstring): their plans
#: are exactly the ladder 1x rungs, so the ladder doubles as a deep JIT
#: warmup and the post-ladder timing reports C2-compiled steady state.
#: r10 (r9 verdict #4): quality_classifier_filter / lm_perplexity_buckets
#: / bm25_search_topk join — the same three-round story (driver-artifact
#: legs +34-82% on unchanged fingerprints while their identical-plan
#: ladder 1x rungs stayed at r8 levels); their headline min now includes
#: the ladder rung, the treatment that stabilized minhash/simhash/
#: components in r9
POST_LADDER = {
    "dedup_minhash_lsh",
    "dedup_simhash",
    "components_dedup_clusters",
    "quality_classifier_filter",
    "lm_perplexity_buckets",
    "bm25_search_topk",
}

#: per-leg scope tags (detail file): bump when the TIMED PLAN or the
#: measurement methodology changes so same-named legs stay comparable
#: across rounds.  Unlisted legs are implicitly "v1".
LEG_SCOPE = {
    "chunk_documents": "v2:r14-opt the fixed-grid chunker fans out from the 1-split scan before the tokenize+chunk build (no-op at scale; see dedup_token_blocks)",
    "dedup_embedding": "meas-v2:r14 JIT_HEAVY double warmup (r13 "
    "verdict #9 — the leg swung 0.43-1.89s across core counts on an "
    "unchanged fingerprint in the driver session; timed runs now "
    "start at execution 3+)",
    "setop_intersect_except": "meas-v2:r14 JIT_HEAVY double warmup "
    "(r13 verdict #9, see dedup_embedding)",
    "agg_grouping_multi": "meas-v2:r14 JIT_HEAVY double warmup "
    "(r13 verdict #9, see dedup_embedding)",
    "dedup_token_blocks": "v3:r14-opt the block chunker fans out from the 1-split scan before the tokenize+chunk build (no-op at scale); v2:r6 touched-only rebuild (two extra joins: "
    "touched marker + semi-restricted rebuild so untouched docs keep text "
    "byte-for-byte — the r5 advisor's ordering hazard; this tag was the "
    "one leg the r6 bookkeeping missed, flagged by the r6 verdict)",
    "dedup_token_chunks_cdc": "v3:r14-opt the CDC token posexplode fans out from the 1-split scan (1-task 0.5s stages in the r14 profile; no-op at scale); v2:r7 max_tokens hard cap (one extra "
    "running-max window over the same per-doc partition)",
    "dedup_semantic": "v2:r7 mega-cell block tiling (cell-size window + "
    "task explode; same pair output, bounded per-task work)",
    "text_analysis": "v2:r5 catalog entry absorbed gopher quality metrics (+work vs r4)",
    "dedup_minhash_lsh": "v3:r14-opt minhash signature/band expressions built as single parsed SQL strings instead of 128+32 py4j Column objects (declaration ~1s cheaper per call; values byte-identical, asserted in tests); meas-v3:r9 headline min now includes the "
    "scale-ladder 1x steady-state rung (identical operator plan, same "
    "process) so the headline stops absorbing ambient shuffle noise — "
    "these three legs drifted +45% on unchanged fingerprints in r7 AND "
    "r8 while their ladder rungs stayed flat (v2:r6 timed post-ladder "
    "at C2 steady state)",
    "dedup_simhash": "v3:r14-opt the 64 vote sums + signature assembly built as two parsed SQL expressions instead of ~190 Column objects (declaration ~1s cheaper; signatures byte-identical, asserted); meas-v3:r9 headline min includes the ladder 1x "
    "rung (see dedup_minhash_lsh; v2:r6 post-ladder)",
    "components_dedup_clusters": "meas-v4:r9 headline min includes the "
    "ladder 1x rung (see dedup_minhash_lsh; v3:r6 post-ladder steady "
    "state + the localCheckpoint-leak fix)",
    "cm_sketch_estimate": "v1:r10 new leg (Count-Min frequency "
    "sketch: 4x1024 counter-table build over all corpus tokens — "
    "map-side partials bound the exchange at d*w rows/task — plus "
    "broadcast-sketch point estimates for the doc_id%97 query slice)",
    "frequent_tokens": "v1:r9 new leg (Misra-Gries candidate sketches "
    "per partition + one broadcast-pruned exact recount, support "
    "1/1000 over documents)",
    "neardup_increment_winnow": "v2:r14-opt winnow sketch fan_out (see dedup_winnowing); v1:r9 serving-ladder-only entry "
    "(winnowing increment gate vs stored corpus_fingerprint_table)",
    "sim_topk_pq_reranked": "v1:r9 new leg (product quantization: ADC "
    "top-40 candidates from the stored 8-byte codes + exact JVM-cosine "
    "re-rank to top-10; codebook train + encode untimed)",
    "pq_encode_score_pipeline": "v1:r9 ladder-only leg (PQ encode scan "
    "+ ADC + re-rank at growing corpus, fixed codebook + queries — "
    "deliberately distinct from the serving-shaped headline leg)",
    "unigram_scores_stored_ladder": "v1:r9 serving-ladder-only entry "
    "(stored-vocab scoring vs cold vocab rebuild at 10x corpus)",
    "unigram_scores_stored": "v1:r6 new leg (stored-vocab reuse path)",
    "dedup_token_blocks_twopass": "v3:r14-opt the block chunker fans out (see dedup_token_blocks); v2:r13-opt pass-1 output is scope-"
    "persisted before pass 2 (pass 2 consumes it in ~4 subtrees — "
    "block scan, hot-set groupBy, rebuild join, touched semi-join — "
    "each of which re-ran the whole pass-1 chain; interleaved A/B "
    "mins 3.3 vs 4.1s / 5.0 vs 5.9s in both orderings); "
    "v1:r6 new leg (coprime two-pass)",
    "repetition_full_gate": "v1:r6 new leg (line/para + 9 n-gram Gopher rules)",
    "dedup_increment": "v2:r14-opt minhash/band single-parse expression construction (two trainer-side declarations per evaluation; declare 3.0->1.4s measured, values byte-identical); meas-v6:r13 convergence loops consolidated "
    "into converge() and the refold spread rule is trailing-window "
    "(see ROUND_SCOPE_NOTES r13); meas-v5:r12 the increment-ladder 1x rung no "
    "longer folds into the headline min (r11 advice #2 — the rung "
    "times the operator against a persisted corpus, different "
    "conditions; it stays reported separately in increment_ladder "
    "with its own converged run array) and the refold loop gains the "
    "spread guard + still-descending-at-cap warning; "
    "meas-v4:r11 post-ladder refold (r10 verdict "
    "#1: the driver's official record min'd at 14.54s on a "
    "never-converged descending sequence [25.7->14.5] while the SAME "
    "run's increment-ladder 1x cold rung read 6.32s) — the leg is "
    "re-timed at end-of-run with runs extended until the sequence "
    "stops descending, and the min folds in BOTH the post-ladder runs "
    "and the ladder 1x cold rung (identical operator over the same 1x "
    "corpus in the same process; r10's 'persisted corpus, different "
    "conditions' objection is retired — the persist covers a "
    "5000-row documents text table at sf0.1, negligible next to the "
    "fingerprint Arrow work); meas-v3:r10 3 base timed runs; "
    "meas-v2:r6 scoped persists released per run "
    "(r5 and earlier runs were flattered by lingering caches from "
    "prior runs — the 'already cached' warning spam; numbers are now "
    "honest and higher)",
    "dedup_increment_stored": "v2:r14-opt minhash/band single-parse expression construction (see dedup_increment); meas-v5:r13 consolidated converge() + "
    "trailing-window spread (see dedup_increment); "
    "meas-v4:r12 ladder rung un-folded from "
    "the headline min + spread-guarded refold (see dedup_increment); "
    "meas-v3:r11 post-ladder refold + ladder "
    "1x stored rung folded into the min; "
    "meas-v2:r6 scoped persists released per run "
    "(see dedup_increment)",
    "unigram_scores": "meas-v2:r6 scoped persists released per run",
    "dedup_winnowing": "v2:r14-opt the Python sketch mapInPandas fans out from the 1-split scan (single-task before; no-op at scale, streaming passthrough); v1:r6 new leg (winnowing fingerprint overlap)",
    "streaming_dsir_gate": "v2:r14-opt the batch-side model fit inherits the _grams fan_out (streamed scorer mapside, unchanged); v1:r7 new leg (batch-fit model, two streamed "
    "Arrow scoring micro-batches under exact redelivery)",
    "bpe_train_merges": "meas-v2:r10 3 base timed runs (r9 verdict #4 "
    "— no ladder rung exists for the iterative trainer); v1:r7 new "
    "leg (12 BPE merge rounds on the vocabulary table; "
    "fixed-overhead-bound after the word-count scan)",
    "audio_dedup_containment": "v2:r13-opt the synth stage fans out "
    "doc ids before the Python WAV encode (id-only Repartition up to "
    "session parallelism; a 1-partition upstream scan had serialized "
    "the encode on one core — payload bytes still never shuffle); "
    "v1:r11 new leg (AUDIO windowed dedup: "
    "synthesize int16 WAVs + per-window sign-of-delta fingerprints + "
    "the video family's containment close running unchanged over the "
    "(id, frame_idx, fp) contract); r12: hash-gated catalog row "
    "registered (the r11-scheduled rotation) and the leg "
    "single-sources from it — same chain, same threshold, plan "
    "unchanged",
    "bpe_encode_stats": "v1:r12 new leg (r11 verdict #6 — corpus "
    "tokenization under STORED merges, the steady-state cost "
    "bpe_train_merges amortizes: distinct-word encode via 12 chained "
    "merge folds + join-back + per-doc piece counts; merges trained "
    "untimed)",
    "streaming_langid_gate": "v2:r14-opt the batch trainer inherits hash-after-count + fan_out (its gram explode ran 4.5s on ONE task — stage profile committed); the streaming scorer is untouched (zero-Exchange contract); 6.10->5.07s; v1:r13 new leg (r12 verdict #3 — the "
    "language-ID family's streaming/serving form: rank profiles "
    "trained in batch on the even-id labeled slice, the odd-doc "
    "stream delivered twice and scored by the stateless INTEGER-exact "
    "mapside scorer; redelivery idempotence + batch parity "
    "hash-gated)",
    "dedup_paired_crossmodal": "v2:r13-opt the per-pair fingerprint "
    "table is persisted (it feeds four subtrees that each re-ran the "
    "image synth+decode chain end-to-end) and the synth stages fan "
    "out doc ids before the Python encodes; v1:r13 new leg (r12 "
    "verdict #4 — "
    "cross-modal PAIRED dedup: the LAION-rule (image, caption) "
    "decision matrix over quadrant twins; image side = real APNG "
    "frame-0 aHash per image key broadcast back, caption side = the "
    "inverted-index shingle counts; every candidate carries both "
    "integer-exact criteria)",
    "dedup_url_canonical": "v1:r13 new leg (r12 verdict #5 — "
    "provenance/URL canonical exact dedup: codegen'd canonicalizer + "
    "map-side-partial groupBy close; the cheapest first-pass "
    "web-corpus stage)",
    "audio_sequence_diverse": "v1:r13 ladder-only entry (r12 verdict "
    "#6 — the ORDER-AWARE audio drift rung: candidates + sequence-"
    "shingle verify over the md5-diverse WAV fixture, the "
    "video_sequence_diverse pattern)",
    "paired_crossmodal_diverse": "v2:r13 md5-diverse image synth "
    "(the first r13 run measured drift 1.79 SUPER-LINEAR: the oracle "
    "image fixture's aHash space is 64 values, so fingerprint "
    "blocking at 5k-50k distinct keys was quadratic fixture noise — "
    "282k colliding key-pairs at 5k keys, 28.4M at 50k; the rung now "
    "injects video.synthesize_diverse_video_payloads, the video "
    "ladder's rationale).  v1:r13 ladder-only entry: images keyed on "
    "doc_id DIV 10 so class size is constant under inflation; the "
    "catalog row's %50 fixture is for the hash gate, not the ladder",
    "langid_score_stored": "v2:r14-opt cold arm inherits the trainer hash-after-count + fan_out; v1:r13 serving-ladder-only entry (r12 "
    "verdict #3 — stored-profile mapside scoring of a fixed odd-id "
    "increment vs cold profile refit at 1x/10x corpus)",
    "langid_ngram_rank": "v2:r14-opt hash-after-count + trainer fan_out: the 60-bit md5 gram hash now runs once per DISTINCT (key, gram) row after the count instead of once per occurrence (same counts, same ranks — the oracle hashes the same grams), and the gram explode fans out from the 1-split scan; 4.49->3.35s; v1:r12 new leg (r11 verdict #2 — the "
    "language-ID family's hash-gated catalog row: Cavnar-Trenkle "
    "char-n-gram rank profiles trained on the even-id labeled slice, "
    "odd docs classified by integer out-of-place distance; "
    "single-sourced from the catalog)",
    "training_corpus_pipeline_v6": "v4:r14-opt the verified close's "
    "cands/sh tables (and v5-style eager materialization generally) "
    "are eagerly materialized — each fed several CONCURRENT broadcast "
    "builds that recomputed the lazily-persisted subtree per thread "
    "at 32 task slots (stage profile: 161s executor CPU at 32c vs "
    "41s at 8c for identical work); interleaved A/B wall-neutral at "
    "both core counts (32c: 16.17 vs 15.77 min; 8c: 12.29 vs 12.49), "
    "kept for the duplicated-CPU removal; same rows, same oracle; "
    "v3:r13-opt the per-modality "
    "decoded base (with_twins) and the verified close's shared frame "
    "table are now EAGER localCheckpoints instead of lazy persists — "
    "same rows, same oracle; kills the broadcast-build race that "
    "recomputed the decode chain 2-3x per action and the nested-"
    "InMemoryRelation plan-canonicalization blowup (interleaved A/B: "
    "steady ~29s -> ~20s, cold 110 -> 38s); the synth fan_out Exchange "
    "(id-only, pre-decode) also lands in this fingerprint; "
    "v2:r13 scale-ladder rung added "
    "(r12 verdict #1) via the refactored shared _v6_core the catalog "
    "row calls — headline plan UNCHANGED (same stage chain, same "
    "oracle fixtures); the RUNG runs the identical chain over the "
    "md5-diverse video/audio fixtures (the video_containment_diverse "
    "rationale — the oracle fixtures' content space saturates under "
    "inflation); v1:r12 new leg (r11 verdict #5 — "
    "the CROSS-MODAL capstone: APNG clips + WAV tracks with "
    "frame-level DUP/REORDER twins, per-modality order-aware verified "
    "dedup over the shared (id, frame_idx, fp) contract, connected "
    "components, keep-best, shard manifest; hash-gated catalog row, "
    "single-sourced)",
    "video_dedup_verified": "v3:r14-opt the close's frame-table "
    "materialization is CALLER-SELECTED (r13 verdict #1: the "
    "unconditional eager checkpoint regressed this standalone leg "
    "4.92->6.75s in the driver run): standalone callers now take the "
    "size-guarded eager materialization and the close's cands/sh "
    "tables materialize eagerly too — the 32-core stage profile "
    "showed every lazily-persisted table here recomputed per "
    "concurrent broadcast build (~150s duplicated executor CPU per "
    "evaluation); interleaved A/Bs wall-neutral at 32 AND 8 cores, "
    "same rows; v6 keeps the checkpoint via eager_frames=True; "
    "v2:r13-opt the close's shared frame "
    "table is an EAGER localCheckpoint instead of a lazy persist "
    "(same rows; steady ~10s -> ~7.8s interleaved A/B, ambient-noise "
    "spikes gone) and the synth stage fans out doc ids before the "
    "Python encode (id-only Exchange, payloads never shuffle); "
    "v1:r11 new leg (the ORDER-AWARE composed "
    "close: set-containment candidates + frame-sequence-shingle "
    "verify, shingle stage semi-restricted to candidate vids; "
    "pytest-oracled — tests/test_video.py DuckDB replays)",
    "video_increment_containment": "v2:r13-opt synth fans out doc "
    "ids before the Python APNG encode (id-only Repartition, payloads "
    "never shuffle); v1:r11 new leg (the video "
    "family's hash-gated SERVING row: even-id clips form the pruned "
    "corpus fp sets + build-time sizes, odd-id clips decode+hash and "
    "join cross pairs only — single-sourced from the catalog row)",
    "cm_frequency_estimates": "v1:r11 new leg (the Count-Min "
    "family's hash-gated catalog row: 4x1024 build + broadcast point "
    "estimates for EVERY distinct corpus token; distinct from "
    "cm_sketch_estimate's fixed %97 query slice)",
    "training_corpus_pipeline_v5": "v3:r14-opt the pair stage's "
    "fingerprint table is eagerly materialized (size-guarded "
    "checkpoint at bench scale): its four banded-pair subtrees ran as "
    "concurrent broadcast builds racing the lazy cache, re-running "
    "synth+decode+hash 3-4x per evaluation (~17s executor time each; "
    "stage profile committed) — executorRunTime 164->100s, "
    "interleaved A/B min 6.36 vs 6.82s, same rows; "
    "v2:r13-opt the payload synth "
    "stage fans out doc ids before the Python PNG encode (v5 consumes "
    "MM.synthesize_payloads, which gained the id-only Repartition in "
    "r13 — this tag mention was omitted then and is recorded here per "
    "r13 verdict what's-wrong #4; plan carries the extra Exchange "
    "since r13); meas-v4:r13 consolidated "
    "converge() + trailing-window spread (see dedup_increment); "
    "meas-v3:r12 refold loop gains the "
    "spread guard + still-descending-at-cap warning (r11 advice #2); "
    "meas-v2:r11 post-ladder refold "
    "(r10 verdict #1/what's-wrong #3: driver runs spread 2.1x "
    "[8.89..16.64] — the leg is re-timed at end-of-run, runs extended "
    "while still descending, min folded in); v1:r10 new leg (the multimodal "
    "pretraining build: image-twin injection -> perceptual aHash/dHash "
    "fingerprints over really-decoded payloads -> banded-Hamming pair "
    "stage with degenerate star closure + dual-hash verify -> "
    "connected components -> dedup_keep_best -> shard manifest; the "
    "fixture's 2x2 thumbnails mostly collide on one aHash value, so "
    "the pair/components stages carry a ~2x-corpus-size clique — the "
    "leg prices that honestly)",
    "video_dedup_containment": "v2:r13-opt synth fans out doc ids "
    "before the Python APNG encode (id-only Repartition up to session "
    "parallelism; a 1-partition scan had serialized every encode on "
    "one core — 6.99 -> 5.43s isolated, payloads never shuffle); "
    "v1:r10 new leg (REAL APNG clips: "
    "synthesize + chunk-walk/inflate/unfilter decode + per-frame "
    "aHash/dHash + frame-set containment over distinct fingerprints "
    "with degenerate quarantine; the fixture's mod-256 frame classes "
    "collide heavily, so the containment join carries real pair "
    "volume — priced honestly)",
    "sim_pq_topk_reranked": "v1:r10 new leg — the hash-gated PQ "
    "catalog row: INLINE init-codebook train (vec_id<200 slice, k=16, "
    "n_iter=0) + full encode + ADC top-20 + exact re-rank to top-5.  "
    "NOT comparable to sim_topk_pq_reranked (the r9 direct leg): that "
    "one serves k=256 trained-codebook queries against a PREBUILT "
    "code artifact",
    "quality_classifier_filter": "v3:r14-opt _grams fan_out before the feature build (see training_corpus_pipeline_v4); v2:r13-opt the trainer's FIRST GD "
    "step skips the feature-table scan + decimal margin aggregation "
    "(no trained buckets yet, so the bucket join contributes exactly "
    "0.0 to every margin either way — results bit-identical, one of "
    "4 feat passes saved); meas-v4:r10 headline min includes "
    "the scale-ladder 1x rung (identical operator plan, same process "
    "— the r9 minhash/simhash/components treatment; this leg read "
    "9.71s in the r9 driver artifact vs 7.15s on its own ladder rung "
    "minutes apart); v3:r7 (v1: new leg — logistic-"
    "regression quality filter: 4 GD training steps + scoring + ranked "
    "keep-half cut, all in the leg; v2: dropped the redundant "
    "feature-table repartition — one less full shuffle; v3: the hashed "
    "feature table is built ONCE and shared between training and "
    "scoring — scoring previously re-ran the tokenize/shingle/bucket "
    "build; same oracle throughout)",
    "lm_perplexity_buckets": "meas-v2:r10 headline min includes the "
    "ladder 1x rung (see quality_classifier_filter); v1:r7 new leg "
    "(bigram stupid-backoff LM fit on the doc_id%2=0 half + "
    "full-corpus scoring + CCNet head/middle/tail terciles, all in "
    "the leg)",
    "bm25_search_topk": "meas-v2:r10 headline min includes the ladder "
    "1x rung (see quality_classifier_filter); v1:r7 new leg (BM25 "
    "top-10 for three fixed queries: broadcast term-set postings "
    "prune + idf + per-query window)",
    "multimodal_resize_sample": "v3:r13-opt synth fans out (id, text) "
    "before the Python payload encode (id-only Repartition, payloads "
    "never shuffle); v2:r8 (v1:r7 new leg — synthesize "
    "PNG/JPEG/WAV payloads, nearest-neighbor 2x2 thumbnail "
    "resize/transcode + every-2nd-frame audio decimation, stats from "
    "re-decoded outputs; v2: the shared JPEG decoder's r8 speedup, "
    "bit-identical output)",
    "training_corpus_pipeline_v4": "v3:r14-opt the shared _grams builder fans out from the 1-split scan before the tokenize+shingle+bucket explode (the classifier feature build ran as a 2-task 1.7s stage — v4 stage profile; interleaved A/B min 10.86 vs 11.51); v2:r13-opt the classifier "
    "trainer's first GD step skips the feature-table scan (see "
    "quality_classifier_filter — results bit-identical); "
    "v1:r8 new leg (the full composed "
    "pretraining build: exact-twin injection -> NFC -> C4 -> PII -> "
    "4-step classifier train + ranked keep-half -> exact dedup -> "
    "shard manifest; the cleaned corpus and the feature table are "
    "scope-persisted and shared across train/score/dedup/manifest)",
    "multimodal_fingerprints": "v2:r13-opt synth fans out (id, text) "
    "before the Python payload encode (id-only Repartition, payloads "
    "never shuffle); v1:r8 new leg (perceptual media "
    "fingerprints: synthesize + really-decode PNG/JPEG/WAV payloads + "
    "integer-exact 64-bit aHash/dHash/audio-sign hashes, zero-shuffle "
    "Arrow scan work; includes the late-r8 JPEG decoder speedup, "
    "bit-identical output)",
    "bm25_search_stored": "v1:r7 new leg (stored-postings serving path: "
    "scoring only, postings/stats artifacts prebuilt untimed)",
    "c4_line_filter": "v2:r8 (v1:r7 new leg — C4 line-level cleaning "
    "rules over the deterministic line-structure augmentation, "
    "zero-shuffle JVM array/regexp scan work; v2: advice fixes — the "
    "sentence proxy includes the end quote and 'javascript' is a "
    "token-level rule, so the keep predicate gained an array_contains "
    "and the oracle moved in step)",
    "quality_classifier_stored": "v3:r14-opt _grams fan_out in the untimed trainer (timed mapside scorer unchanged; fingerprint moves via the shared builder); v2:r8 (v1:r7 new leg — stored-model "
    "serving path: shuffle-free Arrow mapside scoring only, the 4-step "
    "GD train runs untimed; v2: the margin arithmetic is vectorized "
    "int64 fixed-point with an ulp-bounded Decimal fallback band — "
    "bit-parity with the Spark decimal path proven, same plan, "
    "measured ~2.4x faster at sf0.1)",
    "embedding_kmeans_clusters": "v2:r14-opt the dim-rows explode fans out from the 1-split embeddings scan — each Lloyd assignment pass ran as a single 1.4s task (stage profile); leg 5.41->~3.0s, same rows; v1:r7 new leg (engine-exact k-means: "
    "md5-seeded Lloyd, k=8, 2 decimal-exact iterations + final "
    "assignment over the embeddings table)",
    "dsir_select_resample": "v3:r14-opt _grams fan_out before the gram explode in both model passes and the weight pass (interleaved A/B min 2.53 vs 3.27, every pair lower); v2:r7 new leg (DSIR hashed-ngram importance "
    "resampling, Gumbel-top-k of 100 against the English-target model); "
    "v2 = the zip_with shingle rewrite landed mid-round (9.8 -> 3.3s)",
    "training_corpus_pipeline_v2": "v4:r14-opt the composed CDC chunker fans out its token posexplode, the composed dedup_minhash_lsh stage inherits the minhash/band single-parse expression construction (values byte-identical), and the corpus materialization is size-guarded (checkpoint at bench scale, durable DISK_ONLY persist above the bound — r13 verdict #5); v3:r13-opt the CDC-rewritten corpus "
    "is an EAGER localCheckpoint instead of a lazy persist (same rows, "
    "same oracle; the LSH band stage's concurrent subtree builds raced "
    "the persist and re-ran gates+PII+CDC per thread — interleaved A/B "
    "12.51 -> 10.42s min); v2:r7 new leg (composed gopher-subset "
    "+ 13-rule repetition gate -> PII -> CDC substring dedup -> "
    "minhash-LSH + components keep-set); the CDC-rewritten corpus is "
    "scope-persisted — it feeds both the LSH pair stage and the keep "
    "join, unpersisted each subtree re-ran gates+PII+CDC end-to-end",
    "streaming_xlsx_sink": "v2:r6 ts column joined the sink round-trip "
    "(one more column written + read)",
    "multimodal_features": "v4:r13-opt synth fans out (id, text) "
    "before the Python payload encode (id-only Repartition, payloads "
    "never shuffle); v3:r8 (v2:r6 fourth payload branch — real "
    "baseline JPEG entropy decode, doc_id%4=2; v3: the decoder's "
    "entropy loop is locals-only and the IDCT batched — bit-identical "
    "output pinned by golden hashes, ~2x less Python time per JPEG "
    "payload)",
}


#: round-level scope notes that apply across many legs at once (the
#: per-leg LEG_SCOPE stays the authoritative cross-round comparability
#: signal; these document repo-wide changes that move MANY fingerprints)
ROUND_SCOPE_NOTES = {
    "r14": "The committed r14 artifact's untagged_plan_drift reads "
    "[chunk_documents, dedup_minhash_lsh, dedup_simhash] — all three "
    "ARE tagged changes (the single-parse expression rewrite and the "
    "chunker fan_out, sections in OPTIMIZATION_r14.md): the artifact "
    "ran with the minhash/simhash bumps numbered v2, which collided "
    "with a historical v2 segment EMBEDDED in those legs' r6-era tag "
    "text under the new first-vN: plan-version comparison, and "
    "chunk_documents' tag landed one run later.  The tags committed "
    "with the artifact carry the corrected numbering (v3 / v2), so "
    "the next run over this artifact compares clean.  Also r14: the "
    "stdout line uses compact JSON separators and sheds the optional "
    "detail pointer before any leg (r13 verdict #2) — "
    "queries_omitted back to 0 at 69 legs; drift check compares the "
    "tag's plan-version component, not raw text (verdict "
    "what's-wrong #4).",
    "r13": "Measurement consolidation (r12 verdict #2, done at round "
    "START so this round's artifact comes from the consolidated code): "
    "the four convergence-loop variants (run/_rung/_inc_rung/refold) "
    "now all call the single converge() helper — same descent rule, "
    "same per-variant caps as before.  One semantic change (r12 advice "
    "#2): the SPREAD rule measures the trailing 3 runs instead of all "
    "runs — the all-runs max/min was monotone, so a single early "
    "outlier forced every spread-extended loop to its run cap; the "
    "trailing window stops the loop once 3 consecutive runs land "
    "inside the 1.5x band.  No timed plan changes from this; run "
    "counts on noisy legs may shrink.  New legs (r12 verdict #3/#4/"
    "#5): streaming_langid_gate (the language-ID streaming/serving "
    "form), dedup_paired_crossmodal (the LAION-rule paired matrix) "
    "and dedup_url_canonical (provenance dedup) — all hash-gated "
    "catalog rows; new rungs (verdict #1/#4/#6): "
    "scale_ladder.training_corpus_pipeline_v6 via the shared _v6_core "
    "over the md5-diverse media fixtures, "
    "scale_ladder.audio_sequence_diverse (the order-aware audio "
    "close), scale_ladder.paired_crossmodal_diverse (constant image-"
    "class size under inflation), and "
    "serving_ladder.langid_score_stored (profiles train-once, mapside "
    "scorer flat at 10x corpus).  Rotation: streaming_c4_gate and "
    "dedup_minhash_lsh demoted to the tail (plans/catalog.py rule-3 "
    "annotations; both keep their bench legs unchanged), "
    "New I/O legs (late r13): warc_write / warc_read (sources/"
    "warc.py, the Common Crawl container; catalog row "
    "warc_roundtrip_documents born past the window, funded by folding "
    "streaming_classifier_gate) — excluded from the headline total to "
    "keep it comparable to r1-r12.  "
    "pivot_status / string_functions / date_math_functions folded "
    "out (gates moved verbatim to tests/test_catalog_oracle.py).",
    "r12": "Measurement changes (r11 what's-wrong #1 + advice #2): "
    "every scale/increment/serving ladder rung now CONVERGES like the "
    "base legs — the per-rung warmup is timed (never in the min) to "
    "seed a descent check, runs extend while the sequence is still "
    "descending (cap n_timed+3), and the artifact carries per-rung "
    "run arrays (scale_ladder.<leg>.run_arrays, "
    "<ladder>.<factor>x.{cold,stored}_runs) so drift ratios are "
    "auditable as converged, not single samples.  The increment legs' "
    "headline refold no longer folds the increment-ladder 1x rung "
    "(mixed conditions — the rung's corpus is persisted); the refold "
    "loop gains the spread guard and warns if still descending at its "
    "8-run cap.  New legs (r11 verdict #2/#5/#6): langid_ngram_rank "
    "and bpe_encode_stats (each with a scale-ladder drift rung) and "
    "training_corpus_pipeline_v6 (the cross-modal capstone — "
    "video+audio frame-level twins, order-aware verified dedup, "
    "keep-best, manifest; hash-gated catalog row); new rungs "
    "(verdict #4): training_corpus_pipeline_v2/_v4 — both run the "
    "IDENTICAL stage chain via the shared _v2_core/_v4_core the "
    "catalog rows call.  audio_dedup_containment single-sources from "
    "its newly registered catalog row (plan unchanged).  Rotation: "
    "dedup_ngram_jaccard, events_time_rollup and subquery_thresholds "
    "folded out of the catalog (gates moved verbatim to "
    "tests/test_catalog_oracle.py); jaccard keeps its scale-ladder "
    "rung via the operator directly.",
    "r11": "Measurement changes (r10 verdict #1): dedup_increment / "
    "dedup_increment_stored / training_corpus_pipeline_v5 gain the "
    "post-ladder REFOLD — re-timed at end-of-run with runs extended "
    "while still descending, min folded into the base record, and the "
    "increment legs additionally fold their increment-ladder 1x rungs "
    "(the r10 driver record min'd dedup_increment at 14.54s on a "
    "never-converged sequence while the same run's ladder rung read "
    "6.32s).  New legs (r10 verdict #2/#5 rotations): "
    "video_increment_containment (the video family's hash-gated "
    "serving row), cm_frequency_estimates (the Count-Min family's "
    "catalog row), and video_dedup_verified (the order-aware "
    "candidates + sequence-shingle verify close, pytest-oracled) "
    "with its scale_ladder.video_sequence_diverse drift rung, and "
    "audio_dedup_containment (AUDIO windowed fingerprints closed by "
    "the video family's modality-generic containment operator, "
    "pytest-oracled) with its scale_ladder.audio_containment_diverse "
    "drift rung.  "
    "q5_region_revenue folded out of the catalog "
    "(rule 4) — its headline leg now times the identical plain plan "
    "function via FOLDED_LEGS, plan unchanged.",
    "r10": "Measurement changes (r9 verdict #4): "
    "quality_classifier_filter / lm_perplexity_buckets / "
    "bm25_search_topk join POST_LADDER — timed after the scale ladder "
    "with the ladder 1x rung folded into the headline min (identical "
    "plans; the r9 driver artifact moved these legs +34-82% on "
    "unchanged fingerprints while their ladder rungs held r8 levels); "
    "bpe_train_merges and dedup_increment gain a third base timed "
    "run.  New (verdict #6): serving_ladder.ivf_pq_pruned measures "
    "partition-pruned IVF-PQ vs full-scan ADC on a cid-partitioned "
    "stored artifact at 1x/10x corpus.  New legs: "
    "training_corpus_pipeline_v5 (multimodal capstone) and "
    "sim_pq_topk_reranked (the PQ catalog row; distinct from the "
    "sim_topk_pq_reranked serving leg — see LEG_SCOPE).  Late r10: "
    "scale_ladder.video_containment_diverse (md5-diverse clips — the "
    "oracle fixture's 768-cardinality clip space saturates past ~10^3 "
    "videos and would time pair materialization, not the pipeline) "
    "and serving_ladder.video_increment_stored (fixed increment vs "
    "prebuilt pruned fp-set artifact at 1x/10x corpus).",
    "r9": "Measurement changes (verdict #3/#9): the csv legs run 3 "
    "base timed runs and the detail file records scratch_medium; the "
    "three POST_LADDER legs' headline min now includes their "
    "scale-ladder 1x rung (identical plan, same process); the "
    "plan-fingerprint drift check is gated to same-sf artifacts "
    "(testdata paths sit in the analyzed plan, so a cross-sf sanity "
    "run used to false-flag every shared leg).  csv_write ROOT-CAUSE "
    "(verdict #3): the r8 band move (3.44M -> 2.34M rows/s, unchanged "
    "fingerprint) is AMBIENT — the identical leg measured twice this "
    "round on the same box gave runs=[3.14,2.30,2.32] under load-"
    "adjacent conditions and [2.31,1.82,2.01] minutes later on an "
    "idle box (3.3M rows/s), and a standalone probe hit 3.7-4.0M; "
    "the plan, scratch medium (tmpfs) and code are identical "
    "throughout.  Folded legs dedup_embedding / sim_topk_bruteforce "
    "now run via plain plan functions (identical plan, same names) "
    "after leaving the catalog.",
    "r8": "C4 rule fidelity fixes (advice #2/#4): the sentence proxy "
    "includes the end quotation mark and 'javascript' matches at token "
    "level — every C4-composed leg's fingerprint moves "
    "(c4_line_filter, the cleaning/streaming C4 forms).  The xlsx I/O "
    "legs gained a third base timed run and an explicit noise band in "
    "the detail file (verdict #7: their r7 -10/-18% drift had no "
    "variance instrumentation).  NOISE NOTE quality_classifier_stored: "
    "observed 1.1-3.3s ACROSS full-bench runs on an unchanged "
    "fingerprint (tight within-run spread — accumulated-session "
    "effects: Python worker pool + GC after 60+ legs); standalone "
    "steady state is ~1.1s post-vectorization, and the serving "
    "ladder's stored rung (fixed increment) is the steadier "
    "cross-round signal for this path.",
    "r7": "shared tokenization convention changed (empty edge tokens "
    "dropped on every engine — functions/text.tokens): every "
    "text-tokenizing leg's plan fingerprint moves this round even where "
    "the timed work is equivalent.  LATE r7: shingles_from_tokens "
    "rebuilt as iterated zip_with over aligned slices (string-identical "
    "output, 5x cheaper construction — measured 4.3s -> 0.8s on the "
    "sf0.1 bigram explode): every SHINGLING leg's fingerprint moves "
    "again and its time drops for free (dsir_select_resample 9.8 -> "
    "~4s warm, ngram_jaccard/minhash/winnowing legs shed their "
    "shingle-build overhead)",
}


def _plan_fingerprint(df) -> str:
    """16-hex fingerprint of a DataFrame's ANALYZED logical plan,
    normalized modulo per-session ids (expression #ids, plan_ids,
    scratch paths, checkpoint RDD numbers) so the SAME plan hashes
    identically across rounds and an UNTAGGED plan change flags itself
    in the detail artifact (round-6 verdict #2: the r6 dedup_token_blocks
    rebuild changed the plan +76% with no LEG_SCOPE tag and nothing
    caught it).

    The analyzed plan — not executedPlan — on purpose: the optimizer
    substitutes ANY currently-cached matching subtree as an
    InMemoryRelation, so a leg's PHYSICAL plan depends on which
    earlier legs' scoped persists happen to be live at fingerprint
    time (observed: three legs false-flagged between two runs of
    identical code).  The analyzed plan is the pure function of the
    operator's DataFrame construction, which is exactly the thing a
    code change moves."""
    import hashlib

    s = df._jdf.queryExecution().analyzed().toString()
    s = re.sub(r"#\d+", "#", s)              # expression ids
    s = re.sub(r"plan_id=\d+", "plan_id=", s)
    s = re.sub(r"\[id=#?\d*\]", "[id=]", s)
    s = re.sub(r"Statistics\([^)]*\)", "Statistics()", s)
    s = re.sub(r"/[^\s,\])(]*(?:esspark|tmp|scratch)[^\s,\])(]*", "<path>", s)
    s = re.sub(r"ExistingRDD RDD id \d+", "ExistingRDD RDD id N", s)
    # higher-order-function lambda variables carry a SESSION-GLOBAL
    # counter (`lambda x_1` vs `lambda x_3` for the same transform(),
    # depending on how many lambdas the session built earlier) — the
    # source of the three false drift flags in the first r7 run
    s = re.sub(r"lambda ([A-Za-z]+)_\d+", r"lambda \1_", s)
    # streaming legs return spark.table(<queryName>) where the memory
    # sink's name carries a per-run uuid8 suffix (sdr_/dsg_/scg_...) —
    # the analyzed plan embeds it in SubqueryAlias/View, so every run
    # of an UNCHANGED streaming leg would false-flag drift (observed:
    # streaming_dsir_gate, first compared run after its baseline)
    s = re.sub(r"\b([a-z]{2,4}_)[0-9a-f]{8}\b", r"\1", s)
    # model/threshold legs embed DATA-DEPENDENT float literals in the
    # plan (trained classifier bias, LM tercile thresholds, curation
    # budget scalars) — the driver regenerates fixtures every round, so
    # those literals move without any code change (observed: the sf0.001
    # smoke run flagged corpus_curation/lm/classifier).  Strip float
    # literals; integer structure (bucket counts, frame sizes, limits)
    # stays in the fingerprint, and parameter changes are the scope
    # tags' job.
    s = re.sub(r"-?\d+\.\d+(?:[Ee]-?\d+)?", "<f>", s)
    return hashlib.md5(s.encode()).hexdigest()[:16]


#: bump when _plan_fingerprint's NORMALIZATION changes: a normalizer
#: change moves every fingerprint without any plan changing, so drift
#: detection against a prior version's fingerprints would false-flag
#: the whole board — instead the comparison is skipped once and the
#: new version's fingerprints become the baseline.
_FINGERPRINT_VERSION = 4  # v3: uuid8 memory-sink query names normalized;
# v4: float literals stripped (data-dependent model/threshold scalars)


def converge(
    fn,
    n_timed: int,
    *,
    warm_fn=None,
    pre=None,
    timed_warmup: bool = False,
    spread_extra: int = 0,
    descent_extra: int = 0,
    spread_window: int = 3,
) -> tuple[list[float], bool]:
    """THE convergence loop (r13, r12 verdict #2): this descent/spread
    policy previously existed as four near-identical copies
    (``run`` / ``_rung`` / ``_inc_rung`` / ``refold``) — measurement-
    critical code that had already begun to drift (the refold variant
    shipped r12 with a subtly different spread rule).  One warmup,
    ``n_timed`` base timed runs, then extra runs under two rules:

    * SPREAD (r12 advice #2 fix folded in): extend while the TRAILING
      ``spread_window`` runs span more than 1.5x, up to ``n_timed +
      spread_extra`` total runs.  The old rule measured spread over ALL
      runs, which is monotone — once one early outlier landed, the
      condition could never become false and the loop always ran to its
      cap; the trailing window lets it stop as soon as ``spread_window``
      consecutive runs land inside the band (steady state reached).
    * DESCENT: extend while the latest run is the minimum and >10%
      under its predecessor (HotSpot still compiling the generated
      code), up to ``n_timed + descent_extra`` total runs.  With
      ``timed_warmup=True`` the warmup's duration SEEDS this check (the
      ladder rungs: each rung's plan is fresh generated code, so the
      first timed run descending from the warmup is itself evidence)
      but never lands in the returned run array.

    ``warm_fn`` replaces ``fn`` for the warmup only (sink legs warm
    into a different scratch path); ``pre`` runs before EVERY execution
    including the warmup (the rungs release scoped persists there).
    Returns ``(durs, still_descending)``: the timed run array — the
    caller records it verbatim and takes the min — and whether the
    sequence was still descending when the loop stopped (the caller's
    at-cap warning).  A rule with extra budget 0 is off.
    """
    if pre is not None:
        pre()
    t0 = time.perf_counter()
    (warm_fn or fn)()
    warm = round(time.perf_counter() - t0, 3)
    durs: list[float] = []
    # seq is the descent-check view: includes the warmup iff timed_warmup
    seq: list[float] = [warm] if timed_warmup else []

    def one() -> None:
        if pre is not None:
            pre()
        t0 = time.perf_counter()
        fn()
        durs.append(round(time.perf_counter() - t0, 3))
        seq.append(durs[-1])

    for _ in range(n_timed):
        one()

    def widespread() -> bool:
        w = durs[-spread_window:]
        return len(w) >= 2 and max(w) / max(min(w), 1e-9) > 1.5

    def descending() -> bool:
        return (
            len(seq) >= 2 and seq[-1] == min(seq) and seq[-1] < 0.9 * seq[-2]
        )

    while (
        spread_extra and widespread() and len(durs) < n_timed + spread_extra
    ) or (
        descent_extra and descending() and len(durs) < n_timed + descent_extra
    ):
        one()
    return durs, descending()


def _sf_from_dir(path: str) -> float:
    m = re.search(r"sf([0-9.]+)", path)
    return float(m.group(1).rstrip(".")) if m else -1.0


def _scratch_dir() -> str:
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    return tempfile.mkdtemp(prefix="bench_", dir=base)


def main() -> None:
    import excelstream_spark.plans.relational  # noqa: F401
    import excelstream_spark.plans.extension  # noqa: F401
    import excelstream_spark.plans.io_parity  # noqa: F401
    import excelstream_spark.plans.streaming_ops  # noqa: F401
    import excelstream_spark.plans.scale  # noqa: F401
    from excelstream_spark.plans.catalog import CATALOG
    from excelstream_spark.session import get_spark
    from excelstream_spark.sources.xlsx import register_xlsx
    from excelstream_spark.tables import load_table

    spark = get_spark("excelstream_spark-bench")
    register_xlsx(spark)
    for t in ("lineitem", "documents", "embeddings", "events"):
        load_table(spark, SF_DIR, t).count()
    timings: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    N_RUNS = 2

    MAX_EXTRA_RUNS = 2
    #: bound for the still-descending (JIT warmup) rule — deeper than the
    #: spread rule because a descending sequence is evidence the next run
    #: will be faster, not just noisier
    MAX_DESCENT_RUNS = 4

    def run(name: str, fn, warm_fn=None, n_timed: int | None = None) -> None:
        # min recorded: robust to one-off GC stalls.  Adaptive extension
        # (spread + descent rules) consolidated in converge() — r13.
        durs, _ = converge(
            fn,
            n_timed or N_RUNS,
            warm_fn=warm_fn,
            spread_extra=MAX_EXTRA_RUNS,
            descent_extra=MAX_DESCENT_RUNS,
        )
        runs[name] = durs
        timings[name] = min(durs)
        spread = max(durs) / max(min(durs), 1e-9)
        print(f"  {name}: {timings[name]:.2f}s (runs={durs})", file=sys.stderr)
        if spread > 1.5:
            print(f"    WARNING {name}: {spread:.1f}x spread after "
                  f"{len(durs)} runs — treat round-over-round deltas on "
                  "this leg as noise-suspect",
                  file=sys.stderr)

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    plan_fps: dict[str, str] = {}

    def noop_fp(name: str, df) -> None:
        """noop() + record the leg's normalized plan fingerprint ONCE
        (on the warmup execution) so scope drift self-detects — see
        _plan_fingerprint."""
        if name not in plan_fps:
            try:
                plan_fps[name] = _plan_fingerprint(df)
            except Exception:
                plan_fps[name] = "n/a"
        noop(df)

    scratch = _scratch_dir()
    try:
        # CSV throughput first — the purest JVM path, most sensitive to
        # accumulated session state (reference baseline: 1.2M rows/s
        # plain CSV, Rust).  The 600k-row sf0.1 job is fixed-overhead-
        # bound (~0.5s scheduling/commit), so the CSV leg runs at 10x
        # lineitem (6M rows at sf0.1) to amortize job overhead and
        # report the sustained rate.
        from functools import reduce

        li = load_table(spark, SF_DIR, "lineitem")
        n_rows = li.count()
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        li_big = reduce(lambda a, b: a.unionAll(b), [li] * 10)
        n_csv_rows = n_rows * 10
        csv_out = os.path.join(scratch, "lineitem_csv")
        csv_warm = os.path.join(scratch, "lineitem_csv_warm")

        def csv_write(path):
            # no repartition: the 10-way union already carries 30 scan
            # partitions (~cpus); a repartition(cpus) would add a full
            # 6M-row shuffle for no parallelism gain
            li_big.write.mode("overwrite").options(header=True).csv(path)

        # n_timed=3 (r9, verdict #3): csv_write's whole r8 band moved
        # 1.74 -> 2.57s on an unchanged fingerprint — the xlsx legs'
        # r7 story; a third base run + the io_noise_bands entry makes
        # the drift decidable from the artifact (the scratch medium is
        # also recorded below: /dev/shm vs disk changes this leg most)
        run("csv_write", lambda: csv_write(csv_out), warm_fn=lambda: csv_write(csv_warm), n_timed=3)
        shutil.rmtree(csv_warm, ignore_errors=True)
        run(
            "csv_read",
            lambda: noop(spark.read.schema(li.schema).options(header=True).csv(csv_out)),
            n_timed=3,
        )
        for label, rate_key in (("csv_write", "csv_write_rows_per_sec"),
                                ("csv_read", "csv_read_rows_per_sec")):
            timings[rate_key] = round(n_csv_rows / timings[label], 1)
        shutil.rmtree(csv_out, ignore_errors=True)

        # custom xlsx sink/source throughput (reference baseline rows 1-6)
        out = os.path.join(scratch, "lineitem_xlsx")
        warm_out = os.path.join(scratch, "lineitem_xlsx_warm")

        def xlsx_write(path):
            li.repartition(cpus).write.format("xlsx").mode("overwrite").save(path)

        # n_timed=3 (r8, verdict #7): the two xlsx legs drifted -10/-18%
        # in r7 on unchanged plans with only 2-run evidence; a third
        # base run plus the noise_bands detail entry makes environmental
        # drift self-explaining in the artifact
        run("xlsx_write", lambda: xlsx_write(out), warm_fn=lambda: xlsx_write(warm_out), n_timed=3)
        shutil.rmtree(warm_out, ignore_errors=True)
        run("xlsx_read", lambda: noop(spark.read.format("xlsx").load(out)), n_timed=3)
        for label, rate_key in (("xlsx_write", "xlsx_write_rows_per_sec"),
                                ("xlsx_read", "xlsx_read_rows_per_sec")):
            timings[rate_key] = round(n_rows / timings[label], 1)
        shutil.rmtree(out, ignore_errors=True)

        # WARC sink/source throughput (r13, sources/warc.py): the
        # Common Crawl container — the ingest format a 100 TB
        # web-corpus build reads first.  No reference baseline (the
        # reference has no WARC surface); recorded for
        # round-over-round comparability.  Per-record gzip members on
        # write, length-delimited streaming parse on read.  NOT part
        # of the headline total (keeps it comparable to r1-r12).
        from excelstream_spark.sources.warc import register_warc

        register_warc(spark)
        docs = load_table(spark, SF_DIR, "documents")
        n_docs = docs.count()
        wsel = docs.selectExpr(
            "CAST(doc_id AS STRING) AS record_id", "text AS payload"
        ).repartition(cpus)
        wout = os.path.join(scratch, "documents_warc")
        wwarm = os.path.join(scratch, "documents_warc_warm")

        def warc_write(path):
            wsel.write.format("warc").mode("overwrite").save(path)

        run("warc_write", lambda: warc_write(wout), warm_fn=lambda: warc_write(wwarm), n_timed=3)
        shutil.rmtree(wwarm, ignore_errors=True)
        run("warc_read", lambda: noop(spark.read.format("warc").load(wout)), n_timed=3)
        for label, rate_key in (("warc_write", "warc_write_rows_per_sec"),
                                ("warc_read", "warc_read_rows_per_sec")):
            timings[rate_key] = round(n_docs / timings[label], 1)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    # headline queries AFTER the I/O legs: the I/O throughput numbers are
    # the direct BASELINE.md comparisons and get a clean JVM — measured:
    # tens of prior query jobs degrade a subsequent 6M-row CSV scan up to
    # 10x (accumulated session state), while the queries themselves are
    # insensitive to order
    # legs whose plans carry very large generated aggregates (the
    # 128-min minhash / 64-sum simhash HashAggregates): HotSpot takes
    # ~4 executions to C2-compile them (measured: 9.6/11.4/6.1/1.7s on
    # identical runs), and the drop is a cliff the >10% descent rule
    # can't see coming — give them a SECOND untimed warmup so the timed
    # runs start at executions 3-4, where steady state begins.
    # r14 (r13 verdict #9): dedup_embedding / setop_intersect_except /
    # agg_grouping_multi join the set — in the r13 driver run those
    # three swung >=2x at 32 cores on unchanged fingerprints
    # (dedup_embedding 1.89s at 32c vs 0.43s at 8c in the same
    # session); the double warmup gives their generated aggregates the
    # same C2 runway so driver runs grade code, not compilation
    JIT_HEAVY = {
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_increment",
        "dedup_embedding",
        "setop_intersect_except",
        "agg_grouping_multi",
    }

    # folded-out baselines (r9, catalog policy rule 4): dedup_embedding
    # and sim_topk_bruteforce left the catalog but keep their bench legs
    # — same plan, same leg name, timed via the plain plan functions
    # (with the same release_persists preamble the @query wrapper added)
    from excelstream_spark.scope import release_persists
    from excelstream_spark.plans.extension import (
        dedup_embedding as _folded_dedup_embedding,
        dedup_exact as _folded_dedup_exact,
        sim_topk_bruteforce as _folded_sim_topk_bruteforce,
    )
    from excelstream_spark.plans.relational import (
        q5_region_revenue as _folded_q5_region_revenue,
    )

    FOLDED_LEGS = {
        "dedup_embedding": _folded_dedup_embedding,
        "sim_topk_bruteforce": _folded_sim_topk_bruteforce,
        # late r10 fold (funding the video_dedup_containment promotion)
        "dedup_exact": _folded_dedup_exact,
        # r11 fold (funding the cm_frequency_estimates promotion)
        "q5_region_revenue": _folded_q5_region_revenue,
    }

    def run_catalog(name: str, n_timed: int | None = None) -> None:
        if name in FOLDED_LEGS:
            def fn(name=name):
                release_persists()
                noop_fp(name, FOLDED_LEGS[name](spark, SF_DIR))
        else:
            spec = CATALOG[name]
            fn = lambda spec=spec, name=name: noop_fp(  # noqa: E731
                name, spec.fn(spark, SF_DIR)
            )
        run(
            name,
            fn,
            warm_fn=(lambda fn=fn: (fn(), fn())) if name in JIT_HEAVY else None,
            n_timed=n_timed,
        )

    for name in HEADLINE:
        if name in POST_LADDER:
            continue  # timed after the scale ladder (module docstring)
        run_catalog(name)

    # training-pipeline operators outside the driver's 50-entry catalog
    # window (pytest-oracle-checked): sequence packing + quantized ANN
    from pyspark.sql import functions as F

    from excelstream_spark.operators.packing import pack_sequences
    from excelstream_spark.operators.quantize import quantize_embeddings, topk_quantized

    docs_tok = load_table(spark, SF_DIR, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), r"\s+")).alias("n_tokens")
    )
    run("pack_sequences", lambda: noop_fp("pack_sequences", pack_sequences(docs_tok, max_tokens=2048)))
    from excelstream_spark.operators.chunking import chunk_documents

    docs_full = load_table(spark, SF_DIR, "documents")
    # max_tokens=64: the fixture docs run ~100-200 tokens, so this leg
    # actually splits (2-4 chunks/doc); 256 would pass everything whole
    run(
        "chunk_documents",
        lambda: noop_fp("chunk_documents", chunk_documents(docs_full, max_tokens=64, overlap=8)),
    )
    # curation: split-assign + per-domain cap + two-phase token budget,
    # one composed plan (the catalog's corpus_curation entry runs the
    # cluster-aware variant; this leg benches the hash-split chain)
    from excelstream_spark.operators import curation as CU

    def curation():
        capped = CU.cap_per_domain(
            CU.assign_splits(docs_full, seed=1),
            domain_col="source", max_docs=200,
            order_col="n_chars", descending=True,
        )
        noop_fp("corpus_curation", CU.token_budget_head(
            capped, budget=500_000, token_col="n_chars",
            order_col="n_chars", descending=True,
        ))

    run("corpus_curation", curation)

    # data-card statistics: one CUBE aggregation over provenance dims
    run("corpus_report", lambda: noop_fp("corpus_report", CU.corpus_report(docs_full)))

    # quality rules: one codegen'd filter over text (the pre-dedup gate)
    from excelstream_spark.operators.quality import gopher_quality_filter

    run("gopher_filter", lambda: noop_fp("gopher_filter", gopher_quality_filter(docs_full)))

    # the COMPLETE published repetition gate (r6): codegen'd line/para
    # rules, then the nine n-gram rules Arrow-batched (mapInPandas) on
    # the survivors — zero shuffle; prices the full published set
    from excelstream_spark.operators.quality import full_repetition_filter

    run(
        "repetition_full_gate",
        lambda: noop_fp("repetition_full_gate", full_repetition_filter(docs_full)),
    )

    # unigram surprisal scoring: vocab build + token join + per-doc mean
    from excelstream_spark.operators.quality import unigram_logprob_score

    def unigram_cold():
        release_persists()  # the vocab build scope-persists (see the
        # increment legs' comment): release between runs
        noop_fp("unigram_scores", unigram_logprob_score(docs_full))

    run("unigram_scores", unigram_cold)

    # steady-state variant: vocab artifact PRECOMPUTED (the stored-vocab
    # reuse path quality.py documents — the word-count stage amortizes
    # over every future scoring pass); timed leg covers only the
    # explode + token join + per-doc mean
    from excelstream_spark.operators.quality import unigram_vocab

    vocab_stored = unigram_vocab(docs_full).persist()
    vocab_stored.count()
    run(
        "unigram_scores_stored",
        lambda: noop_fp("unigram_scores_stored", unigram_logprob_score(docs_full, vocab=vocab_stored)),
    )
    vocab_stored.unpersist()

    # winnowing fingerprint near-dup (r6): mapInPandas sketch extraction
    # + the ngram_jaccard-shaped inverted-index overlap join
    from excelstream_spark.operators.fingerprint import dedup_winnowing_pairs

    def winnow_pairs():
        release_persists()  # the posting list scope-persists
        noop_fp("dedup_winnowing", dedup_winnowing_pairs(docs_full, threshold=0.5))

    run("dedup_winnowing", winnow_pairs)

    # block-level substring dedup: chunk + block-hash groupBy + rebuild
    from excelstream_spark.operators.dedup import dedup_token_blocks

    run(
        "dedup_token_blocks",
        lambda: noop_fp("dedup_token_blocks", dedup_token_blocks(docs_full, block_tokens=16)),
    )

    # the two composed substring-dedup mitigations (r6): coprime
    # two-pass fixed grid, and offset-invariant content-defined chunks
    from excelstream_spark.operators.dedup import (
        dedup_token_blocks_twopass,
        dedup_token_chunks_cdc,
    )

    run(
        "dedup_token_blocks_twopass",
        lambda: noop_fp(
            "dedup_token_blocks_twopass",
            dedup_token_blocks_twopass(docs_full, block_tokens=(16, 11)),
        ),
    )
    run(
        "dedup_token_chunks_cdc",
        lambda: noop_fp("dedup_token_chunks_cdc", dedup_token_chunks_cdc(docs_full, avg_tokens=16)),
    )

    # SemDeDup: seeded-cell assignment + within-cell pairwise + keep-set
    from excelstream_spark.operators.similarity import dedup_semantic

    emb_sem = load_table(spark, SF_DIR, "embeddings")
    run("dedup_semantic", lambda: noop_fp("dedup_semantic", dedup_semantic(emb_sem, threshold=0.45)))

    # incremental gate: odd-id docs (plus nothing new) against the
    # even-id standing corpus — exact fp anti-join + broadcast-increment
    # LSH candidates + exact verify, corpus never reshuffled
    from excelstream_spark.operators import incremental as INC

    def increment_gate():
        # release the previous run's scoped persists (the catalog legs
        # get this from the @query wrapper; direct-operator legs must do
        # it themselves or repeated runs re-persist identical subtrees —
        # memory growth + CacheManager "already cached" warning spam)
        release_persists()
        corpus = docs_full.filter(F.col("doc_id") % 2 == 0)
        new = docs_full.filter(F.col("doc_id") % 2 == 1)
        noop_fp("dedup_increment", INC.dedup_increment(new, corpus))

    # n_timed=3 (r10, r9 verdict #4).  r11 (r10 verdict #1): these base
    # runs are no longer the final word — the leg is RE-timed after the
    # ladders (see the post-ladder refold block) and the increment
    # ladder's 1x cold rung folds into the min; r10's "different
    # conditions" objection is retired in the LEG_SCOPE note
    run(
        "dedup_increment",
        increment_gate,
        warm_fn=lambda: (increment_gate(), increment_gate()),  # JIT_HEAVY
        n_timed=3,
    )

    # steady-state variant: corpus artifacts PRECOMPUTED (the path
    # DEPLOYMENT.md's per-increment arithmetic describes — fingerprints
    # and band index amortized over every future increment); timed leg
    # covers only the per-increment work
    corpus_inc = docs_full.filter(F.col("doc_id") % 2 == 0)
    new_inc = docs_full.filter(F.col("doc_id") % 2 == 1)
    fps_stored = INC.corpus_fingerprints(corpus_inc).persist()
    idx_stored = INC.corpus_band_index(corpus_inc).persist()
    fps_stored.count(), idx_stored.count()

    def increment_gate_stored():
        release_persists()  # scoped only — never touches the two
        # explicitly-persisted stored artifacts above
        noop_fp("dedup_increment_stored", INC.dedup_increment(
            new_inc, corpus_inc,
            corpus_fps=fps_stored, band_index=idx_stored,
        ))

    run(
        "dedup_increment_stored",
        increment_gate_stored,
        warm_fn=lambda: (increment_gate_stored(), increment_gate_stored()),
    )
    fps_stored.unpersist()
    idx_stored.unpersist()

    emb = load_table(spark, SF_DIR, "embeddings")
    qcorpus = quantize_embeddings(emb).persist()
    qcorpus.count()
    queries = emb.orderBy("vec_id").limit(100)
    run("sim_topk_quantized", lambda: noop_fp("sim_topk_quantized", topk_quantized(qcorpus, queries, k=10)))
    qcorpus.unpersist()

    # PQ ANN (r9): the 8-byte-code compression rung below int8
    # (operators/pq.py) — codebook trained + corpus encoded ONCE
    # untimed (the stored artifact, 32x smaller than float32), the leg
    # times ADC candidate scoring over the codes plus the exact
    # re-rank of the nq x k' candidate sliver
    from excelstream_spark.operators.pq import (
        pq_encode,
        pq_train,
        topk_pq_reranked,
    )

    pq_cb = pq_train(emb, m=8, k=256, n_iter=6)
    pq_codes = pq_encode(emb, pq_cb).persist()
    pq_codes.count()
    run(
        "sim_topk_pq_reranked",
        lambda: noop_fp(
            "sim_topk_pq_reranked",
            topk_pq_reranked(pq_codes, pq_cb, emb, queries, k=10, k_prime=40),
        ),
    )
    pq_codes.unpersist()

    # DSIR targeted selection (r7): hashed-ngram bucket models + Gumbel
    # top-k — broadcast 10k-row model, one groupBy(doc) shuffle
    run_catalog("dsir_select_resample")

    # streaming DSIR gate (r7): batch-fit model applied to the doc
    # stream (2 micro-batches, exact redelivery) via the shuffle-free
    # Arrow scorer — times model fit + two streamed scoring passes
    run_catalog("streaming_dsir_gate")

    # BPE tokenizer training (r7): 12 merge rounds on the vocabulary
    # table — the leg is fixed-overhead-bound (one arg-max job per
    # merge) after the single corpus word-count scan.  n_timed=3 (r10,
    # r9 verdict #4): no ladder rung exists for the iterative trainer,
    # so the extra base run is its noise instrumentation
    run_catalog("bpe_train_merges", n_timed=3)

    # BPE ENCODE (r12, r11 verdict #6): corpus-scale tokenization under
    # STORED merges — the pipeline's steady-state cost the trainer leg
    # amortizes (a tokenizer trains once; every future corpus pass
    # encodes).  Merges trained untimed (the stored artifact); the leg
    # times the distinct-word encode + join-back + per-doc piece counts
    from excelstream_spark.operators.tokenizer import (
        bpe_encode_stats as _bpe_enc,
    )
    from excelstream_spark.operators.tokenizer import (
        bpe_train as _bpe_train,
    )

    _bpe_merges = _bpe_train(
        docs_full.select("doc_id", "text"), num_merges=12
    )

    def _bpe_encode_leg():
        release_persists()  # encode_words scope-releases checkpoints
        noop_fp("bpe_encode_stats", _bpe_enc(docs_full, _bpe_merges))

    run("bpe_encode_stats", _bpe_encode_leg)

    # LANGUAGE ID (r12, r11 verdict #2): Cavnar-Trenkle rank profiles
    # trained on the even-id labeled slice, odd docs classified — the
    # hash-gated catalog row, single-sourced
    run_catalog("langid_ngram_rank")

    # quality_classifier_filter / lm_perplexity_buckets /
    # bm25_search_topk moved to the POST_LADDER loop (r10, r9 verdict
    # #4): each has an identical-plan scale-ladder 1x rung, and their
    # headline min now includes it — see the POST_LADDER comment

    # media transforms (r7): encode + resize/transcode/decimate +
    # re-decode, all Arrow-batched mapInPandas — prices the full
    # codec round-trip per payload
    run_catalog("multimodal_resize_sample")

    # stored-postings BM25 (r7): the serving path — the inverted-index
    # artifacts are built ONCE (untimed), the leg times only query
    # scoring against them (no corpus scan / tokenize; the
    # unigram_scores_stored shape)
    from excelstream_spark.operators.retrieval import (
        bm25_topk_stored,
        build_postings,
    )
    from excelstream_spark.plans.extension import BM25_QUERIES

    _post, _pstats = build_postings(docs_full)
    _post = _post.persist()
    _pstats = _pstats.persist()
    _post.count(), _pstats.count()
    run(
        "bm25_search_stored",
        lambda: noop_fp(
            "bm25_search_stored",
            bm25_topk_stored(_post, _pstats, BM25_QUERIES, k=10),
        ),
    )
    _post.unpersist()
    _pstats.unpersist()

    # C4 line-level cleaning rules (late r7): the augmented-fixture
    # catalog entry — pure JVM array/regexp scan work, zero shuffle
    run_catalog("c4_line_filter")

    # perceptual media fingerprints (r8, new family): synthesize +
    # REALLY decode PNG/JPEG/WAV payloads + 64-bit aHash/dHash/audio
    # hashes, all Arrow-batched zero-shuffle scan work — prices the
    # decode+hash pipeline
    run_catalog("multimodal_fingerprints")

    # video dedup (r10, new family): synthesize REAL APNG clips +
    # per-frame aHash/dHash (zero-shuffle Arrow scan) + the frame-set
    # containment close (inverted index on the fingerprint, degenerate
    # quarantine + DF cap ahead of set sizing).  Late r10 the family's
    # hash-gated driver row registered, so the leg single-sources from
    # the catalog (same chain, same threshold — plan unchanged)
    run_catalog("video_dedup_containment")

    # video SERVING row (r11 rotation): the hash-gated
    # increment-vs-stored-corpus path — even-id clips play the corpus
    # (pruned fp sets + build-time sizes), odd-id clips decode+hash
    # and join; single-sourced from the catalog row
    run_catalog("video_increment_containment")

    # ORDER-AWARE verified close (r11): set-containment candidates +
    # frame-sequence-shingle verify over the oracle fixture — prices
    # the composed operator (pytest-oracled; the sequence stage is
    # semi-restricted to candidate vids)
    from excelstream_spark.operators.video import (
        dedup_video_containment_verified as _vcv_leg,
    )
    from excelstream_spark.operators.video import (
        synthesize_video_payloads as _vv_synth,
    )
    from excelstream_spark.operators.video import (
        video_frame_fingerprints as _vv_fps,
    )

    # AUDIO windowed dedup (r11, new family): synthesize REAL int16
    # WAVs + per-window sign-of-delta fingerprints (zero-shuffle Arrow
    # scan) + the video family's containment close running UNCHANGED
    # over the (id, frame_idx, fp) contract.  r12: the family's
    # hash-gated catalog row registered (the rotation the r11 verdict
    # scheduled), so the leg single-sources from the catalog — same
    # chain, same threshold, plan unchanged
    run_catalog("audio_dedup_containment")

    def _video_verified_leg():
        release_persists()  # the composed op scope-persists internally
        noop_fp(
            "video_dedup_verified",
            _vcv_leg(
                _vv_fps(
                    _vv_synth(
                        docs_full.where(F.col("doc_id").isNotNull())
                    )
                ),
                threshold=0.8,
                seq_threshold=0.8,
                n=2,
            ),
        )

    run("video_dedup_verified", _video_verified_leg)

    # CROSS-MODAL capstone (r12, r11 verdict #5): video clips + audio
    # tracks with frame-level dup/reorder twins, per-modality
    # order-aware verified dedup, components, keep-best, manifest —
    # the hash-gated catalog row, single-sourced
    run_catalog("training_corpus_pipeline_v6")

    # stored-model classifier scoring (late r7): the serving path — the
    # model trains ONCE untimed (the expensive half
    # quality_classifier_filter prices), the leg times only the
    # shuffle-FREE Arrow mapside scorer over the full corpus (the
    # production gate shape: train in batch, score every future
    # increment/stream against the stored weights)
    from excelstream_spark.functions.text import tokens as _cls_tokens
    from excelstream_spark.operators.classifier import (
        classifier_score_mapside,
        train_quality_classifier,
    )

    _cls_model = train_quality_classifier(
        docs_full.withColumn(
            "y",
            F.size(_cls_tokens(F.coalesce(F.col("text"), F.lit(""))))
            .between(50, 100_000)
            .cast("int"),
        ),
        "y",
        n_buckets=1024,
        steps=4,
        lr=8.0,
    )
    run(
        "quality_classifier_stored",
        lambda: noop_fp(
            "quality_classifier_stored",
            classifier_score_mapside(
                docs_full.select("doc_id", "text"), _cls_model
            ),
        ),
    )

    # engine-exact k-means (late r7): md5-seeded Lloyd, 2 iterations +
    # final assignment over the embeddings table — the new in-window
    # clustering row (the catalog wrapper releases the scoped dim-row
    # persist on entry)
    run_catalog("embedding_kmeans_clusters")


    # Count-Min token-frequency sketch (late r10, completing the
    # sketch family: membership / cardinality / heavy hitters /
    # FREQUENCY): build the depth x width counter table (map-side
    # partials bound the exchange at d*w rows per task regardless of
    # token volume) and point-estimate a fixed query slice against the
    # broadcast sketch — pytest-oracled this round, catalog row via
    # rotation next round (the PQ/video precedent)
    from excelstream_spark.functions.text import tokens as _cm_toks
    from excelstream_spark.operators.sketches import (
        cm_estimate as _cm_est,
    )
    from excelstream_spark.operators.sketches import (
        cm_sketch_tokens as _cm_build,
    )

    def _cm_leg():
        sk = _cm_build(docs_full.select("text"), depth=4, width=1024)
        qs = docs_full.where(F.col("doc_id") % 97 == 0).select(
            F.explode(
                _cm_toks(F.coalesce(F.col("text"), F.lit("")))
            ).alias("q")
        )
        return _cm_est(sk, qs, depth=4, width=1024)

    run(
        "cm_sketch_estimate",
        lambda: noop_fp("cm_sketch_estimate", _cm_leg()),
    )

    # the family's hash-gated catalog row (r11 rotation, the PQ/video
    # precedent executed): the same build, but point estimates for
    # EVERY distinct corpus token — the oracle surface.  DISTINCT from
    # cm_sketch_estimate's fixed %97 query slice above
    run_catalog("cm_frequency_estimates")

    # round-4 extension legs (wall-clock accountability for the operators
    # that joined the driver window this round); kept OUT of the headline
    # total so "value" stays leg-comparable with BENCH_r02/r03
    EXTENSION_LEGS = [
        "dedup_simhash",
        "components_dedup_clusters",
        "streaming_xlsx_sink",
        "chunk_documents",  # timed above (not a catalog entry)
        "training_corpus_pipeline_v2",  # r7: the composed quality ->
        # PII -> CDC substring dedup -> LSH+components chain
        "training_corpus_pipeline_v4",  # r8: the full pretraining
        # build — twins -> NFC -> C4 -> PII -> classifier cut ->
        # exact dedup -> shard manifest, one flow
        "frequent_tokens",  # r9 (verdict #4): MG heavy hitters +
        # broadcast-pruned exact recount — the hot-key discovery
        # primitive gets its wall-clock row
        "training_corpus_pipeline_v5",  # r10: the multimodal capstone
        # — image twins -> fingerprints -> banded pair stage ->
        # components -> keep-best -> shard manifest, one flow
        "cm_sketch_estimate",  # late r10: Count-Min build + broadcast
        # point estimates — timed above (not a catalog entry yet, the
        # chunk_documents pattern); joins value_with_extension_legs so
        # the sketch leg is total-accountable like frequent_tokens
        "sim_pq_topk_reranked",  # r10: the PQ family's catalog row
        # (init codebook + inline train/encode + ADC + re-rank).
        # DISTINCT from the near-namesake sim_topk_pq_reranked direct
        # leg above: that one prices SERVING against a prebuilt k=256
        # trained-codebook artifact; this one prices the whole
        # hash-gated composition including codebook init and encode
        "video_increment_containment",  # r11: the video family's
        # hash-gated SERVING row — timed above via run_catalog
        "video_dedup_verified",  # r11: the order-aware composed close
        # (candidates + sequence verify) — timed above, pytest-oracled
        "audio_dedup_containment",  # r12: the audio family's
        # hash-gated catalog row (the r11-scheduled rotation executed)
        # — timed above via run_catalog, single-sourced
        "cm_frequency_estimates",  # r11: the Count-Min family's
        # hash-gated catalog row — timed above via run_catalog
        "bpe_encode_stats",  # r12: corpus tokenization under stored
        # merges — the steady-state cost the trainer leg amortizes
        "langid_ngram_rank",  # r12: the language-ID family's
        # hash-gated catalog row — timed above via run_catalog
        "training_corpus_pipeline_v6",  # r12: the cross-modal capstone
        # — video + audio twins, order-aware verified dedup, keep-best,
        # manifest; timed above via run_catalog
        "streaming_langid_gate",  # r13: the language-ID family's
        # streaming/serving form (r12 verdict #3) — batch-trained rank
        # profiles + stateless integer-exact mapside scorer over the
        # redelivered doc stream; hash-gated catalog row
        "dedup_paired_crossmodal",  # r13: cross-modal PAIRED dedup
        # (r12 verdict #4) — the LAION-rule (image, caption) decision
        # matrix with quadrant twins; hash-gated catalog row
        "dedup_url_canonical",  # r13: provenance/URL canonical exact
        # dedup (r12 verdict #5) — the cheapest first-pass web-corpus
        # stage; hash-gated catalog row (born past the window)
    ]
    for name in EXTENSION_LEGS:
        if name in timings or name in POST_LADDER:
            continue
        run_catalog(name)

    # -- scale ladder: the shuffle-heavy legs at 1x/3x/10x documents ----
    # Inflation prefixes every token of copy i with "c{i}·" so copies
    # share ZERO shingles/tokens with each other and with the original:
    # the near-dup structure inside each copy is preserved exactly (the
    # prefix is a token-level bijection), pair/edge output scales
    # LINEARLY with the factor, and the ladder measures how the shuffle
    # pipeline scales — not a quadratic pair blowup among identical
    # copies.  Each rung gets its own untimed warmup: "JIT-warm from the
    # headline legs" proved FALSE — every rung is new generated code and
    # its cold first execution is JIT time, not operator time (measured
    # 12.4s cold vs ~3s steady on the minhash 1x rung, inverting the
    # ladder's monotonicity and flattening drift_10x to a bogus 0.07).
    from excelstream_spark.operators.components import connected_components
    from excelstream_spark.operators.selection import dsir_select as _dsir_select
    from excelstream_spark.functions.text import tokens as _txt_tokens
    from excelstream_spark.operators.classifier import (
        select_top_quality as _clf_select,
        train_quality_classifier as _clf_train,
    )
    from excelstream_spark.operators.lm import (
        fit_bigram_lm as _lm_fit,
        ppl_tercile_buckets as _lm_buckets,
    )
    from excelstream_spark.operators.retrieval import bm25_topk as _bm25
    from excelstream_spark.plans.extension import BM25_QUERIES as _BM25_QUERIES

    import excelstream_spark.operators.dedup as DDo

    docs_base = load_table(spark, SF_DIR, "documents").select("doc_id", "text")

    def inflate(factor: int):
        if factor == 1:
            return docs_base
        copies = [
            docs_base.select(
                (F.col("doc_id") + F.lit(i * 100_000_000)).alias("doc_id"),
                (
                    F.col("text")
                    if i == 0
                    else F.regexp_replace("text", r"(\S+)", f"c{i}·$1")
                ).alias("text"),
            )
            for i in range(factor)
        ]
        return reduce(lambda a, b: a.unionAll(b), copies)

    LADDER_LEGS = {
        "dedup_ngram_jaccard": lambda d: DDo.dedup_ngram_jaccard(d, threshold=0.5),
        "dedup_minhash_lsh": lambda d: DDo.dedup_minhash_lsh(d, threshold=0.8),
        "dedup_simhash": lambda d: DDo.dedup_simhash(d, max_hamming=3, hash_fn="md5"),
        "components_dedup_clusters": lambda d: connected_components(
            DDo.dedup_ngram_jaccard(d, threshold=0.5),
            id_a="doc_a",
            id_b="doc_b",
        ),
        # r6: the substring-dedup forms (per-copy token prefixes keep
        # within-copy duplicate structure while copies share no blocks/
        # chunks, so hot-set size scales linearly like the real corpus)
        "dedup_token_blocks": lambda d: DDo.dedup_token_blocks(
            d, block_tokens=16
        ),
        "dedup_token_chunks_cdc": lambda d: DDo.dedup_token_chunks_cdc(
            d, avg_tokens=16
        ),
        # r7 (verdict #6): the two highest per-byte-cost Arrow-batched
        # Python legs — per-copy token prefixes preserve each doc's
        # internal repetition structure and keep winnowing posting lists
        # disjoint across copies, so both scale linearly by construction
        # and the ladder verifies the Arrow scan pipeline does too
        "repetition_full_gate": lambda d: full_repetition_filter(d),
        "dedup_winnowing": lambda d: dedup_winnowing_pairs(
            d, threshold=0.5
        ),
        # r7: DSIR — target model refit per rung on the doc_id%5 slice
        # (target and pool both scale with the factor, the steady-state
        # shape); gram explode + bucket word-count + one groupBy(doc)
        # should all scale linearly
        "dsir_select_resample": lambda d: _dsir_select(
            d, d.where(F.col("doc_id") % 5 == 0), k=100
        ),
        # late r7: the three new model/retrieval families.  LM: the
        # reference slice (doc_id%2=0 — the inflation offset is even,
        # so parity survives) and the scored pool both scale with the
        # factor; fit word-counts + scoring joins should be linear.
        "lm_perplexity_buckets": lambda d: _lm_buckets(
            d, _lm_fit(d.where(F.col("doc_id") % 2 == 0))
        ),
        # BM25: inflated copies' tokens are prefixed, so the fixed
        # query set matches only copy 0 — corpus grows, hit set
        # constant: the rung isolates the scan+explode+prune pipeline
        # (exactly the 100 TB cost profile of constant queries over a
        # growing corpus)
        "bm25_search_topk": lambda d: _bm25(d, _BM25_QUERIES, k=10),
        # classifier: feature build + 4 GD steps; per-step shuffles are
        # bounded (<=1025 rows) so the ladder verifies the feature scan
        # dominates and scales linearly.  Same shared-feature-artifact
        # shape as the catalog entry (v3): built once, train + score
        # both read it
        "quality_classifier_filter": lambda d: _clf_leg(d),
        # r8: the perceptual-fingerprint family — synthesize + decode +
        # hash is pure per-row Arrow scan work (payload content derives
        # from the inflated doc_id space), so the rung verifies the
        # zero-shuffle decode pipeline scales linearly in payloads
        "multimodal_fingerprints": lambda d: _mm_fps(d),
        # late r10: the video family.  Distinct name from the headline
        # video_dedup_containment leg ON PURPOSE (the
        # pq_encode_score_pipeline precedent): the headline/oracle
        # fixture is 8-bit doc_id arithmetic whose clip space has
        # cardinality 768 — right for a hash gate, wrong for a drift
        # rung (past ~10^3 videos pair OUTPUT grows quadratically, the
        # rung would time result materialization).  The rung uses the
        # md5-diverse fixture (content-unique clips + within-copy twin
        # pairs of class size exactly 2 — see operators/video.
        # synthesize_diverse_video_payloads), so decode+hash scan AND
        # the containment join both carry linear work by construction
        "video_containment_diverse": lambda d: _video_diverse(d),
        # r11: the ORDER-AWARE composed form over the same diverse
        # fixture — set-containment candidates + sequence-shingle
        # verify.  The shingle stage is semi-restricted to candidate
        # vids, so its work scales with the (linear-by-construction)
        # pair output; the rung verifies the whole composition stays
        # linear, not just the candidate stage
        "video_sequence_diverse": lambda d: _video_verified_diverse(d),
        # r11: the AUDIO family's drift rung — windowed fingerprints
        # closed by the (modality-generic) containment operator over
        # the md5-diverse WAV fixture (linear twin structure, same
        # rationale as video_containment_diverse: the oracle fixture's
        # 251-value offset space saturates past ~10^3 tracks)
        "audio_containment_diverse": lambda d: _audio_diverse(d),
        # r13 (r12 verdict #6): the ORDER-AWARE audio path gets its own
        # drift rung — the video_sequence_diverse rung pattern over the
        # md5-diverse WAV fixture (the set-containment audio rung above
        # measures only the candidate stage; this one runs candidates +
        # the sequence-shingle verify, semi-restricted to candidates)
        "audio_sequence_diverse": lambda d: _audio_verified_diverse(d),
        # r13 (r12 verdict #4): the paired (image, caption) matrix at a
        # growing corpus.  The catalog row's fixture (img_k = doc_id %
        # 50) holds class COUNT fixed, so inflation grows class size
        # and candidate pairs quadratically — right for a hash gate,
        # wrong for a drift rung (the video_containment_diverse
        # rationale).  The rung keys images on doc_id DIV 10: class
        # size stays <= 10 at every factor (inflated copies occupy
        # disjoint id blocks), so image candidates AND the
        # token-prefixed caption side both scale linearly by
        # construction
        "paired_crossmodal_diverse": lambda d: _paired_diverse(d),
        # r12 (r11 verdict #4): the two most expensive composed legs
        # finally get measured drift — both rungs run the IDENTICAL
        # stage chain via the shared _v2_core/_v4_core the catalog
        # rows call (no copy to drift).  Token-prefixed inflation
        # keeps every stage linear by construction: gates/PII/NFC/C4
        # are scan work, CDC chunks and LSH shingles are disjoint
        # across copies, the classifier's per-step shuffle is bounded
        # (<=1025 rows) at any factor, v4's exact twins dedup within
        # their own copy
        "training_corpus_pipeline_v2": lambda d: _v2_rung(d),
        "training_corpus_pipeline_v4": lambda d: _v4_rung(d),
        # r13 (r12 verdict #1): the cross-modal capstone — the most
        # expensive leg — gets measured drift via the shared _v6_core
        # the catalog row calls (identical stage chain, no copy to
        # drift).  The rung swaps in the md5-DIVERSE video/audio
        # synthesizers (the video_containment_diverse rationale: the
        # oracle fixtures' mod-256 content space saturates past ~10^3
        # media docs and an inflated rung would time quadratic pair
        # materialization); frame-level DUP/REORDER twin injection,
        # both verified closes, components, keep-best and the manifest
        # all run verbatim
        "training_corpus_pipeline_v6": lambda d: _v6_rung(d),
        # r12 (r11 verdict #6): tokenization at a growing corpus under
        # the FIXED stored merges (a tokenizer never retrains because
        # the corpus grew — the PQ-codebook rationale); distinct-word
        # encode + join-back + per-doc counts, all linear in rows
        "bpe_encode_stats": lambda d: _bpe_enc(d, _bpe_merges),
        # r12: language ID at a growing corpus — profiles refit per
        # rung on the even-id slice (target and pool both scale, the
        # DSIR rung's shape); gram explode + doc-keyed rank window are
        # linear, scoring is <= top_k x n_langs rows per doc
        "langid_ngram_rank": lambda d: _langid_rung(d),
    }

    def _v2_rung(d):
        from excelstream_spark.plans.extension import _v2_core

        return _v2_core(
            d.where(F.col("doc_id").isNotNull()).select(
                "doc_id",
                F.concat(
                    F.lit("l"), (F.col("doc_id") % 5).cast("string")
                ).alias("lang"),
                "text",
            )
        )

    def _v4_rung(d):
        from excelstream_spark.plans.extension import _v4_core

        return _v4_core(d.where(F.col("doc_id").isNotNull()))

    def _v6_rung(d):
        from excelstream_spark.operators.audio import (
            synthesize_diverse_audio_payloads as _a_div,
        )
        from excelstream_spark.operators.video import (
            synthesize_diverse_video_payloads as _v_div,
        )
        from excelstream_spark.plans.extension import _v6_core

        # base population decimated to the (doc_id DIV 4) % 10 == 0
        # decile (keeps every doc_id%4 modality residue at 1/10
        # density, unlike %10 which would zero out the odd video
        # class): v6 decodes BOTH media modalities x3 twin derivations
        # per doc, and an undecimated 10x rung at sf0.1 would run
        # ~10 minutes of APNG/WAV decode per execution — the 10x rung
        # now lands at exactly full-corpus media volume, so the drift
        # ratio spans the same 10x load range as every other rung
        return _v6_core(
            d.where(
                F.col("doc_id").isNotNull()
                & (F.expr("(doc_id DIV 4) % 10") == 0)
            ).withColumn(
                "n_chars", F.length(F.coalesce(F.col("text"), F.lit("")))
            ),
            synth_video=_v_div,
            synth_audio=_a_div,
        )

    def _langid_rung(d):
        from excelstream_spark.operators.langid import (
            language_id as _lid,
        )
        from excelstream_spark.operators.langid import (
            train_language_profiles as _lid_train,
        )

        labeled = d.where(F.col("doc_id").isNotNull()).withColumn(
            "lang",
            F.concat(F.lit("l"), (F.col("doc_id") % 5).cast("string")),
        )
        prof = _lid_train(labeled.where(F.col("doc_id") % 2 == 0))
        return _lid(
            labeled.where(F.col("doc_id") % 2 != 0).select(
                "doc_id", "text"
            ),
            prof,
        )

    def _mm_fps(d):
        from excelstream_spark.operators.image_hash import (
            multimodal_fingerprints as _fp_op,
        )
        from excelstream_spark.operators.multimodal import (
            synthesize_payloads as _synth,
        )

        return _fp_op(_synth(d.where(F.col("doc_id").isNotNull())))

    def _video_diverse(d):
        from excelstream_spark.operators.video import (
            dedup_video_containment as _vc,
        )
        from excelstream_spark.operators.video import (
            synthesize_diverse_video_payloads as _vsynth,
        )
        from excelstream_spark.operators.video import (
            video_frame_fingerprints as _vfps,
        )

        return _vc(
            _vfps(_vsynth(d.where(F.col("doc_id").isNotNull()))),
            threshold=0.8,
        )

    def _video_verified_diverse(d):
        from excelstream_spark.operators.video import (
            dedup_video_containment_verified as _vcv,
        )
        from excelstream_spark.operators.video import (
            synthesize_diverse_video_payloads as _vsynth,
        )
        from excelstream_spark.operators.video import (
            video_frame_fingerprints as _vfps,
        )

        return _vcv(
            _vfps(_vsynth(d.where(F.col("doc_id").isNotNull()))),
            threshold=0.8,
            seq_threshold=0.8,
            n=2,
        )

    def _audio_diverse(d):
        from excelstream_spark.operators.audio import (
            audio_window_fingerprints as _afps,
        )
        from excelstream_spark.operators.audio import (
            synthesize_diverse_audio_payloads as _asynth,
        )
        from excelstream_spark.operators.video import (
            dedup_video_containment as _vc,
        )

        return _vc(
            _afps(_asynth(d.where(F.col("doc_id").isNotNull()))),
            threshold=0.8,
        )

    def _audio_verified_diverse(d):
        from excelstream_spark.operators.audio import (
            audio_window_fingerprints as _afps,
        )
        from excelstream_spark.operators.audio import (
            synthesize_diverse_audio_payloads as _asynth,
        )
        from excelstream_spark.operators.video import (
            dedup_video_containment_verified as _vcv,
        )

        return _vcv(
            _afps(_asynth(d.where(F.col("doc_id").isNotNull()))),
            threshold=0.8,
            seq_threshold=0.8,
            n=2,
        )

    def _paired_diverse(d):
        from excelstream_spark.operators.paired import (
            paired_crossmodal_matrix as _pm,
        )
        from excelstream_spark.operators.video import (
            synthesize_diverse_video_payloads as _pm_synth,
        )

        # md5-diverse image synth (v2:r13): the oracle fixture's frame-0
        # aHash space is 64 values, so at rung scale (5k-50k distinct
        # keys) fingerprint blocking was QUADRATIC fixture noise — the
        # first r13 run measured drift 1.79 before the swap; the diverse
        # synth's md5 pixels make fingerprints collision-free and the
        # planted key-twin classes (size exactly 2) keep same-image
        # candidates linear by construction
        dd = d.where(F.col("doc_id").isNotNull())
        return _pm(
            dd.select(
                "doc_id",
                F.expr("doc_id DIV 10").alias("img_k"),
                F.coalesce(F.col("text"), F.lit("")).alias("caption"),
            ),
            image_synth=_pm_synth,
        )

    def _clf_leg(d):
        from excelstream_spark.operators.classifier import (
            hashed_doc_features as _clf_feats,
        )
        from excelstream_spark.scope import share

        feat = share(_clf_feats(d, n_buckets=1024))
        labeled = d.withColumn(
            "y",
            F.size(_txt_tokens(F.coalesce(F.col("text"), F.lit(""))))
            .between(50, 100_000)
            .cast("int"),
        )
        model = _clf_train(
            labeled, "y", n_buckets=1024, steps=4, lr=8.0, features=feat
        )
        return _clf_select(d, model, keep_frac=0.5, features=feat)
    # embeddings inflation for the vector-family rungs: copies carry
    # new ids and IDENTICAL vectors — k-means assignment work is N*k
    # regardless of vector values, so the rung measures the scan +
    # per-iteration aggregation pipeline scaling linearly in N (the
    # md5 seeds re-derive per factor from the new id space)
    emb_base = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding"
    )

    def inflate_emb(factor: int):
        if factor == 1:
            return emb_base
        copies = [
            emb_base.select(
                (F.col("vec_id") + F.lit(i * 100_000_000)).alias("vec_id"),
                "embedding",
            )
            for i in range(factor)
        ]
        return reduce(lambda a, b: a.unionAll(b), copies)

    from excelstream_spark.operators.clustering import (
        kmeans_assign_exact as _km_assign,
    )

    EMB_LADDER_LEGS = {
        "embedding_kmeans_clusters": lambda d: _km_assign(
            d, k=8, n_iter=2
        ),
        # r9: PQ at a growing corpus, codebook FIXED (trained once —
        # the production shape: a codebook never retrains because the
        # corpus grew).  Distinct name from the headline
        # sim_topk_pq_reranked leg ON PURPOSE: the rung prices the
        # WHOLE pipeline (encode scan + ADC + re-rank for the fixed
        # query set, linear in corpus rows), the headline leg prices
        # serving against a prebuilt code artifact
        "pq_encode_score_pipeline": lambda d: topk_pq_reranked(
            pq_encode(d, pq_cb), pq_cb, d, queries, k=10, k_prime=40
        ),
    }

    def _rung(
        make, factor: int, n_timed: int, inflator=None, runs_out=None
    ) -> float:
        # one warmup per rung before the timed runs: each rung's plan is
        # new generated code (different union width), and a cold first
        # execution times the JIT, not the operator — measured 4x
        # inflation of the 1x rung (12.4s cold vs ~3s steady), which
        # corrupted the drift DENOMINATOR into a flattering 0.07.
        # r12 (r11 what's-wrong #1): the warmup is now TIMED (never
        # folded into the min) purely to seed the descent check, and the
        # rung extends while the sequence is still descending — the
        # drift-ratio rungs were single samples on a box with a
        # documented ±30-80% ambient band (driver r11 recorded the
        # increment stored-10x rung at 2.05x while the committed
        # same-code run read 1.16x).  Every timed run lands in
        # ``runs_out`` so the artifact carries the rung's run array
        # like the base legs.
        d = (inflator or inflate)(factor)
        durs, _ = converge(
            lambda: noop(make(d)),
            n_timed,
            pre=release_persists,
            timed_warmup=True,
            descent_extra=3,
        )
        if runs_out is not None:
            runs_out.extend(durs)
        return min(durs)

    scale_ladder: dict[str, dict] = {}
    # previous artifact's ladder (drift self-heal below) — only
    # comparable at the SAME sf (drift ratios are overhead-dependent)
    _prev_ladder: dict[str, dict] = {}
    try:
        with open(os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "bench_detail.json"
        )) as _fh:
            _prev = json.load(_fh)
        if _prev.get("sf") == _sf_from_dir(SF_DIR):
            _prev_ladder = _prev.get("scale_ladder", {})
    except (OSError, ValueError):
        pass
    _all_ladder = [(n, m, None) for n, m in LADDER_LEGS.items()] + [
        (n, m, inflate_emb) for n, m in EMB_LADDER_LEGS.items()
    ]
    for name, make, _inflator in _all_ladder:
        # min-of-2 on the cheap rungs: a single stalled 1x run corrupts
        # the drift DENOMINATOR 4x (observed: an 11.7s outlier on a leg
        # that repeatably runs ~3s).  The 10x rung runs once after its
        # warmup, then once more only if the ladder looks anomalous
        # (non-monotonic or super-linear) — bounding worst-case cost.
        arrays: dict[str, list[float]] = {"1x": [], "3x": [], "10x": []}
        rungs = {
            "1x": _rung(make, 1, 2, _inflator, runs_out=arrays["1x"]),
            "3x": _rung(make, 3, 2, _inflator, runs_out=arrays["3x"]),
        }
        rungs["10x"] = _rung(make, 10, 1, _inflator, runs_out=arrays["10x"])
        # retry ANY rung that makes the ladder non-monotonic (or the
        # drift super-linear): a one-off ambient stall on the 1x rung
        # flatters drift 10x (observed: a 23.6s minhash 1x against a
        # repeatable ~2.6s -> drift 0.055), a stall on the 10x rung
        # fakes super-linearity (observed: 29s ngram 10x -> drift 1.4
        # against a repeatable ~0.45) — and neither is distinguishable
        # from a real scaling cliff without a second sample
        if rungs["1x"] > rungs["3x"]:
            rungs["1x"] = min(
                rungs["1x"], _rung(make, 1, 2, _inflator, runs_out=arrays["1x"])
            )
        if rungs["3x"] > rungs["10x"]:
            rungs["3x"] = min(
                rungs["3x"], _rung(make, 3, 2, _inflator, runs_out=arrays["3x"])
            )
        if rungs["10x"] < rungs["3x"] or rungs["10x"] > 10 * rungs["1x"]:
            rungs["10x"] = min(
                rungs["10x"],
                _rung(make, 10, 1, _inflator, runs_out=arrays["10x"]),
            )
        # r8: cross-round drift self-heal — a 10x rung that lands >1.5x
        # the PREVIOUS artifact's drift for the same leg (same scope) is
        # more likely an ambient stall than a real scaling change (the
        # r8 run recorded jaccard drift 0.674 vs r7's 0.35 on an
        # unchanged fingerprint; a single retry decides stall vs real)
        prev_drift = _prev_ladder.get(name, {}).get("drift_10x")
        if (
            prev_drift
            and rungs["10x"] / (10 * rungs["1x"]) > 1.5 * prev_drift
        ):
            rungs["10x"] = min(
                rungs["10x"],
                _rung(make, 10, 1, _inflator, runs_out=arrays["10x"]),
            )
        release_persists()
        drift = round(rungs["10x"] / (10 * rungs["1x"]), 3)
        scale_ladder[name] = {
            "runs": rungs,
            "drift_10x": drift,
            "run_arrays": arrays,
        }
        print(
            f"  ladder {name}: {rungs} drift_10x={drift}"
            + (" (SUPER-LINEAR)" if drift > 1.3 else ""),
            file=sys.stderr,
        )

    # -- incremental-gate ladder (r7, round-6 verdict #3): corpus
    # inflated 10x, increment FIXED at 1x — the steady-state design
    # point (huge standing corpus, small increment) the 1:1 headline
    # legs understate.  The claim under test: the STORED-artifact path's
    # time is ~flat in corpus size (the corpus side is the precomputed
    # fingerprint/band artifacts; only the increment is fingerprinted
    # and shuffled), while the cold path must at least re-fingerprint
    # the whole corpus, so its time grows with it.  Reported as the
    # t_10x/t_1x ratio PER PATH (not /10: the increment work is
    # constant, flatness not sub-linearity is the claim).
    inc_new = docs_base.filter(F.col("doc_id") % 2 == 1)

    def _inc_rung(make, n_timed: int = 2, runs_out=None) -> float:
        # r12 (r11 what's-wrong #1): same convergence treatment as
        # _rung — timed warmup seeds the descent check (never in the
        # min), runs extend while still descending, and every timed
        # run lands in ``runs_out`` so the increment/serving rung
        # ratios come from converged samples the artifact can show.
        durs, _ = converge(
            lambda: noop(make()),
            n_timed,
            pre=release_persists,
            timed_warmup=True,
            descent_extra=3,
        )
        if runs_out is not None:
            runs_out.extend(durs)
        return min(durs)

    increment_ladder: dict[str, dict] = {}
    for factor in (1, 10):
        # persist the inflated corpus: at the design point the corpus
        # TEXT is a stored table (a cheap pruned scan), but inflate()
        # synthesizes it with a regex per copy — without the persist the
        # stored-path rung re-pays that synthesis on every corpus read
        # and the ladder times the fixture generator, not the operator
        corpus_f = (
            inflate(factor).filter(F.col("doc_id") % 2 == 0).persist()
        )
        corpus_f.count()
        cold_runs: list[float] = []
        stored_runs: list[float] = []
        cold = _inc_rung(
            lambda c=corpus_f: INC.dedup_increment(inc_new, c),
            runs_out=cold_runs,
        )
        fps_f = INC.corpus_fingerprints(corpus_f).persist()
        idx_f = INC.corpus_band_index(corpus_f).persist()
        fps_f.count(), idx_f.count()
        stored = _inc_rung(
            lambda c=corpus_f, fp=fps_f, ix=idx_f: INC.dedup_increment(
                inc_new, c, corpus_fps=fp, band_index=ix
            ),
            runs_out=stored_runs,
        )
        fps_f.unpersist()
        idx_f.unpersist()
        corpus_f.unpersist()
        increment_ladder[f"{factor}x"] = {
            "cold": cold, "stored": stored,
            "cold_runs": cold_runs, "stored_runs": stored_runs,
        }
    increment_ladder["corpus_10x_ratio"] = {
        "cold": round(
            increment_ladder["10x"]["cold"] / increment_ladder["1x"]["cold"], 3
        ),
        "stored": round(
            increment_ladder["10x"]["stored"]
            / increment_ladder["1x"]["stored"], 3
        ),
    }
    print(
        f"  increment_ladder: {increment_ladder}",
        file=sys.stderr,
    )

    # -- stored-serving ladder (r8, r7 verdict #5): corpus inflated
    # 10x, query/score load FIXED — the serving-path claim under test
    # ("score increments/queries without corpus scans") finally gets
    # the increment-ladder treatment.  Per path the report is the
    # t_10x/t_1x ratio (flatness, not sub-linearity, is the claim):
    # the STORED path reads only prebuilt artifacts (postings pruned by
    # the constant query-term set / the constant-size trained model),
    # so its ratio should sit far under the COLD path's, which must
    # re-tokenize (BM25) or re-train (classifier) the whole corpus.
    # BM25 uses the token-prefixed inflation, so the fixed query set
    # matches only copy 0 — hit set constant while postings grow 10x.
    serving_ladder: dict[str, dict] = {}

    bm25_rungs: dict[str, dict] = {}
    for factor in (1, 10):
        corpus_f = inflate(factor).persist()
        corpus_f.count()
        cold_runs, stored_runs = [], []
        cold = _inc_rung(
            lambda c=corpus_f: _bm25(c, _BM25_QUERIES, k=10),
            n_timed=2 if factor == 1 else 1,
            runs_out=cold_runs,
        )
        post_f, pstats_f = build_postings(corpus_f)
        post_f = post_f.persist()
        pstats_f = pstats_f.persist()
        post_f.count(), pstats_f.count()
        stored = _inc_rung(
            lambda p=post_f, s=pstats_f: bm25_topk_stored(
                p, s, _BM25_QUERIES, k=10
            ),
            runs_out=stored_runs,
        )
        post_f.unpersist()
        pstats_f.unpersist()
        corpus_f.unpersist()
        bm25_rungs[f"{factor}x"] = {
            "cold": cold, "stored": stored,
            "cold_runs": cold_runs, "stored_runs": stored_runs,
        }
    bm25_rungs["corpus_10x_ratio"] = {
        "cold": round(bm25_rungs["10x"]["cold"] / bm25_rungs["1x"]["cold"], 3),
        "stored": round(
            bm25_rungs["10x"]["stored"] / bm25_rungs["1x"]["stored"], 3
        ),
    }
    serving_ladder["bm25_search_stored"] = bm25_rungs

    # classifier: the scored increment is FIXED at 1x odd-id docs; the
    # cold path trains the 4-step GD model on the inflated corpus
    # inside the timed rung, the stored path scores against a
    # pretrained (untimed) model — the production train-once shape
    clf_inc = docs_base.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "text"
    )
    clf_rungs: dict[str, dict] = {}
    for factor in (1, 10):
        corpus_f = (
            inflate(factor)
            .withColumn(
                "y",
                F.size(_txt_tokens(F.coalesce(F.col("text"), F.lit(""))))
                .between(50, 100_000)
                .cast("int"),
            )
            .persist()
        )
        corpus_f.count()

        def _clf_cold(c=corpus_f):
            m = _clf_train(c, "y", n_buckets=1024, steps=4, lr=8.0)
            return classifier_score_mapside(clf_inc, m)

        cold_runs, stored_runs = [], []
        cold = _inc_rung(
            _clf_cold, n_timed=2 if factor == 1 else 1, runs_out=cold_runs
        )
        m_stored = _clf_train(corpus_f, "y", n_buckets=1024, steps=4, lr=8.0)
        stored = _inc_rung(
            lambda m=m_stored: classifier_score_mapside(clf_inc, m),
            runs_out=stored_runs,
        )
        corpus_f.unpersist()
        clf_rungs[f"{factor}x"] = {
            "cold": cold, "stored": stored,
            "cold_runs": cold_runs, "stored_runs": stored_runs,
        }
    clf_rungs["corpus_10x_ratio"] = {
        "cold": round(clf_rungs["10x"]["cold"] / clf_rungs["1x"]["cold"], 3),
        "stored": round(
            clf_rungs["10x"]["stored"] / clf_rungs["1x"]["stored"], 3
        ),
    }
    serving_ladder["quality_classifier_stored"] = clf_rungs

    # winnowing increment gate (r9, r8 verdict #7): corpus inflated
    # 10x, increment FIXED at 1x odd-id docs — the stored path joins
    # the increment's fingerprints against the PREBUILT
    # corpus_fingerprint_table (only the increment is tokenized/
    # winnowed), the cold path rebuilds the corpus artifact inside the
    # timed rung.  Token-prefixed inflation keeps copies' fingerprint
    # sets disjoint, so the hit set stays constant while the corpus
    # artifact grows 10x.
    from excelstream_spark.operators.fingerprint import (
        corpus_fingerprint_table as _win_table,
        neardup_increment_winnow as _win_gate,
    )

    win_rungs: dict[str, dict] = {}
    for factor in (1, 10):
        corpus_f = inflate(factor).persist()
        corpus_f.count()
        cold_runs, stored_runs = [], []
        cold = _inc_rung(
            lambda c=corpus_f: _win_gate(inc_new, _win_table(c)),
            n_timed=2 if factor == 1 else 1,
            runs_out=cold_runs,
        )
        table_f = _win_table(corpus_f).persist()
        table_f.count()
        stored = _inc_rung(
            lambda t=table_f: _win_gate(inc_new, t),
            runs_out=stored_runs,
        )
        table_f.unpersist()
        corpus_f.unpersist()
        win_rungs[f"{factor}x"] = {
            "cold": cold, "stored": stored,
            "cold_runs": cold_runs, "stored_runs": stored_runs,
        }
    win_rungs["corpus_10x_ratio"] = {
        "cold": round(win_rungs["10x"]["cold"] / win_rungs["1x"]["cold"], 3),
        "stored": round(
            win_rungs["10x"]["stored"] / win_rungs["1x"]["stored"], 3
        ),
    }
    serving_ladder["neardup_increment_winnow"] = win_rungs

    # stored unigram vocab (r9, r8 verdict #7): scoring load FIXED at
    # 1x odd-id docs; the cold path rebuilds the corpus vocab inside
    # the timed rung, the stored path scores against the prebuilt
    # (untimed) vocab artifact — the unigram_scores_stored headline
    # leg's claim, finally measured against a growing corpus
    from excelstream_spark.operators.quality import (
        unigram_logprob_score as _uni_score,
        unigram_vocab as _uni_vocab,
    )

    uni_rungs: dict[str, dict] = {}
    for factor in (1, 10):
        corpus_f = inflate(factor).persist()
        corpus_f.count()
        cold_runs, stored_runs = [], []
        cold = _inc_rung(
            lambda c=corpus_f: _uni_score(inc_new, vocab=_uni_vocab(c)),
            n_timed=2 if factor == 1 else 1,
            runs_out=cold_runs,
        )
        vocab_f = _uni_vocab(corpus_f).persist()
        vocab_f.count()
        stored = _inc_rung(
            lambda v=vocab_f: _uni_score(inc_new, vocab=v),
            runs_out=stored_runs,
        )
        vocab_f.unpersist()
        corpus_f.unpersist()
        uni_rungs[f"{factor}x"] = {
            "cold": cold, "stored": stored,
            "cold_runs": cold_runs, "stored_runs": stored_runs,
        }
    uni_rungs["corpus_10x_ratio"] = {
        "cold": round(uni_rungs["10x"]["cold"] / uni_rungs["1x"]["cold"], 3),
        "stored": round(
            uni_rungs["10x"]["stored"] / uni_rungs["1x"]["stored"], 3
        ),
    }
    serving_ladder["unigram_scores_stored"] = uni_rungs

    # IVF-PQ partition-pruned serving (r10, r9 verdict #6): corpus
    # inflated 10x, the 100-query load FIXED — the pruning claim under
    # test (pinned plan-level in tests/test_pq.py, now MEASURED): the
    # (id, cid, code) artifact is WRITTEN partitioned by cid, so
    # ivf_pq_topk's isin probe prunes whole partitions before any byte
    # is read and touches ~n_probe cells of CONSTANT size (seeds are
    # every 50th row — cell count grows with the corpus, cell size
    # does not), while full-scan ADC reads every code.  Artifact build
    # (encode + cell assign + partitioned write) is untimed — the
    # stored-index shape.
    from excelstream_spark.operators.pq import ivf_pq_index, ivf_pq_topk, topk_pq

    ivf_scratch = _scratch_dir()
    ivfpq_rungs: dict[str, dict] = {}
    try:
        for factor in (1, 10):
            corpus_f = inflate_emb(factor).persist()
            corpus_f.count()
            centroids_f, coded_f = ivf_pq_index(corpus_f, pq_cb)
            path = os.path.join(ivf_scratch, f"ivfpq_{factor}x")
            coded_f.write.mode("overwrite").partitionBy("cid").parquet(path)
            centroids_f = centroids_f.persist()
            centroids_f.count()
            stored_codes = spark.read.parquet(path)
            full_runs, pruned_runs = [], []
            full = _inc_rung(
                lambda s=stored_codes: topk_pq(
                    s.select("id", "code"), pq_cb, queries, k=10
                ),
                n_timed=2 if factor == 1 else 1,
                runs_out=full_runs,
            )
            pruned = _inc_rung(
                lambda s=stored_codes, c=centroids_f: ivf_pq_topk(
                    s, pq_cb, c, queries, k=10, n_probe=3
                ),
                runs_out=pruned_runs,
            )
            centroids_f.unpersist()
            corpus_f.unpersist()
            ivfpq_rungs[f"{factor}x"] = {
                "full_adc": full, "pruned": pruned,
                "full_adc_runs": full_runs, "pruned_runs": pruned_runs,
            }
        ivfpq_rungs["corpus_10x_ratio"] = {
            "full_adc": round(
                ivfpq_rungs["10x"]["full_adc"] / ivfpq_rungs["1x"]["full_adc"],
                3,
            ),
            "pruned": round(
                ivfpq_rungs["10x"]["pruned"] / ivfpq_rungs["1x"]["pruned"], 3
            ),
        }
    finally:
        shutil.rmtree(ivf_scratch, ignore_errors=True)
    serving_ladder["ivf_pq_pruned"] = ivfpq_rungs

    # video increment gate (late r10): corpus of REAL APNG clips
    # inflated 10x (the md5-diverse fixture — linear duplicate
    # structure, see operators/video.synthesize_diverse_video_payloads),
    # the scored increment FIXED at the copy-0 doc_id%7==0 clips.  The
    # stored path decodes+hashes ONLY the increment and joins the
    # PREBUILT pruned (vid, fp) sets + build-time sizes (untimed — the
    # save_video_fp_artifact shape); the cold path decodes the whole
    # corpus and rebuilds the artifact inside the timed rung.  Corpus
    # payloads are persisted either way (at the design point they are
    # a stored table — synthesis is fixture generation, not production
    # work).
    from excelstream_spark.operators.video import (
        synthesize_diverse_video_payloads as _vsynth_inc,
    )
    from excelstream_spark.operators.video import video_fp_sets as _vsets
    from excelstream_spark.operators.video import video_fp_sizes as _vsizes
    from excelstream_spark.operators.video import (
        video_frame_fingerprints as _vfps_inc,
    )
    from excelstream_spark.operators.video import (
        video_increment_containment as _vinc,
    )

    vid_inc_pay = _vsynth_inc(
        docs_base.where(
            F.col("doc_id").isNotNull() & (F.col("doc_id") % 7 == 0)
        ).select("doc_id")
    ).persist()
    vid_inc_pay.count()
    vid_rungs: dict[str, dict] = {}
    for factor in (1, 10):
        corpus_pay = _vsynth_inc(
            inflate(factor)
            .where(F.col("doc_id").isNotNull())
            .select("doc_id")
        ).persist()
        corpus_pay.count()

        def _vid_cold(c=corpus_pay):
            s = _vsets(_vfps_inc(c))
            return _vinc(
                _vfps_inc(vid_inc_pay), s, _vsizes(s), threshold=0.8
            )

        cold_runs, stored_runs = [], []
        cold = _inc_rung(
            _vid_cold, n_timed=2 if factor == 1 else 1, runs_out=cold_runs
        )
        sets_f = _vsets(_vfps_inc(corpus_pay)).persist()
        sizes_f = _vsizes(sets_f).persist()
        sets_f.count(), sizes_f.count()
        stored = _inc_rung(
            lambda s=sets_f, z=sizes_f: _vinc(
                _vfps_inc(vid_inc_pay), s, z, threshold=0.8
            ),
            runs_out=stored_runs,
        )
        sets_f.unpersist()
        sizes_f.unpersist()
        corpus_pay.unpersist()
        vid_rungs[f"{factor}x"] = {
            "cold": cold, "stored": stored,
            "cold_runs": cold_runs, "stored_runs": stored_runs,
        }
    vid_inc_pay.unpersist()
    vid_rungs["corpus_10x_ratio"] = {
        "cold": round(vid_rungs["10x"]["cold"] / vid_rungs["1x"]["cold"], 3),
        "stored": round(
            vid_rungs["10x"]["stored"] / vid_rungs["1x"]["stored"], 3
        ),
    }
    serving_ladder["video_increment_stored"] = vid_rungs

    # language-ID serving (r13, r12 verdict #3): the scored increment
    # FIXED at 1x odd-id docs; the cold path refits the rank profiles
    # on the inflated even-id labeled corpus inside the timed rung
    # (train + collect + mapside score), the stored path scores
    # against the pre-collected profile dict — the production
    # train-once shape (the quality_classifier_stored convention
    # applied to the rank-profile classifier).  The stored path's work
    # is the increment's gram extraction alone, so it should read
    # ~flat at 10x corpus.
    from excelstream_spark.operators.langid import (
        collect_language_profiles as _lid_collect,
    )
    from excelstream_spark.operators.langid import (
        langid_score_mapside as _lid_score,
    )
    from excelstream_spark.operators.langid import (
        train_language_profiles as _lid_train,
    )

    lid_rungs: dict[str, dict] = {}
    for factor in (1, 10):
        corpus_f = (
            inflate(factor)
            .where(F.col("doc_id").isNotNull())
            .withColumn(
                "lang",
                F.concat(F.lit("l"), (F.col("doc_id") % 5).cast("string")),
            )
            .persist()
        )
        corpus_f.count()

        def _lid_cold(c=corpus_f):
            prof = _lid_train(c.where(F.col("doc_id") % 2 == 0))
            return _lid_score(inc_new, prof)

        cold_runs, stored_runs = [], []
        cold = _inc_rung(
            _lid_cold, n_timed=2 if factor == 1 else 1, runs_out=cold_runs
        )
        model = _lid_collect(
            _lid_train(corpus_f.where(F.col("doc_id") % 2 == 0))
        )
        stored = _inc_rung(
            lambda m=model: _lid_score(inc_new, m), runs_out=stored_runs
        )
        corpus_f.unpersist()
        lid_rungs[f"{factor}x"] = {
            "cold": cold, "stored": stored,
            "cold_runs": cold_runs, "stored_runs": stored_runs,
        }
    lid_rungs["corpus_10x_ratio"] = {
        "cold": round(lid_rungs["10x"]["cold"] / lid_rungs["1x"]["cold"], 3),
        "stored": round(
            lid_rungs["10x"]["stored"] / lid_rungs["1x"]["stored"], 3
        ),
    }
    serving_ladder["langid_score_stored"] = lid_rungs
    print(f"  serving_ladder: {serving_ladder}", file=sys.stderr)

    # post-ladder steady-state legs: the ladder's 1x rungs just executed
    # these exact plans repeatedly, so the generated aggregates are
    # C2-compiled and the timing below reports the operator (module
    # docstring; the verdict's round-5 "weak" measurement item).
    # r9 (verdict #9): the recorded min ALSO includes the ladder's own
    # 1x rung — the identical operator plan over the same table, timed
    # minutes earlier in the same process.  These three legs drifted
    # +45% on unchanged fingerprints in r7 AND r8 while their ladder
    # rungs stayed near-flat (r8: headline 3.77/3.82/4.22 vs rungs
    # 3.36/2.32/2.81): on a shared box the min over BOTH samples is the
    # honest steady-state estimate, and the ladder value is already in
    # the artifact either way (scale_ladder.<leg>.runs.1x).
    for name in sorted(POST_LADDER):
        run_catalog(name)
        lad_1x = scale_ladder.get(name, {}).get("runs", {}).get("1x")
        if lad_1x is not None and lad_1x < timings[name]:
            runs[name].append(lad_1x)
            timings[name] = lad_1x

    # r11 post-ladder REFOLD (r10 verdict #1): the three legs that
    # missed r10's POST_LADDER cure — dedup_increment (driver record
    # 14.54s on a never-converged descending sequence while the SAME
    # run's ladder 1x rung read 6.32s), dedup_increment_stored, and
    # training_corpus_pipeline_v5 (driver spread 2.1x) — are re-timed
    # HERE, at the process's deepest JIT/steady state, with extra runs
    # while the sequence is still descending, and the min folds into
    # the earlier base record.
    # r12 (r11 advice #2): the increment-ladder 1x rungs are NO LONGER
    # folded into the headline min — the rung times the operator against
    # a PERSISTED corpus / prebuilt artifacts (different conditions, and
    # a min over mixed conditions can only lower the headline); the rung
    # stays reported separately in increment_ladder, now with its own
    # converged run array.  The refold loop also gains run()'s spread
    # guard (extend while the spread is wide, not only while descending)
    # and WARNS when the sequence is still descending at the run cap, so
    # "runs extended until the sequence stops descending" is checkable
    # from the log instead of asserted.
    def refold(name: str, fn) -> None:
        # r13: same converge() loop as everything else (r12 verdict #2);
        # the 8-run cap is 2 base + 6 extra under either rule, and the
        # spread rule is the trailing-window form (r12 advice #2 — the
        # old all-runs max/min was monotone, so one outlier forced every
        # refold to the cap).
        durs, still_descending = converge(
            fn, 2, spread_extra=6, descent_extra=6
        )
        if still_descending:
            print(
                f"  WARNING {name}: refold sequence still descending at "
                f"the {len(durs)}-run cap — the recorded min may "
                "overstate steady state",
                file=sys.stderr,
            )
        runs[name].extend(durs)
        timings[name] = min(runs[name])
        print(
            f"  {name}: post-ladder refold -> {timings[name]:.2f}s "
            f"(post runs={durs})",
            file=sys.stderr,
        )

    refold("dedup_increment", increment_gate)
    fps_rf = INC.corpus_fingerprints(corpus_inc).persist()
    idx_rf = INC.corpus_band_index(corpus_inc).persist()
    fps_rf.count(), idx_rf.count()

    def _stored_refold():
        release_persists()  # scoped only — the two artifacts above
        # are explicit persists, exactly the base leg's conditions
        noop_fp("dedup_increment_stored", INC.dedup_increment(
            new_inc, corpus_inc, corpus_fps=fps_rf, band_index=idx_rf,
        ))

    refold("dedup_increment_stored", _stored_refold)
    fps_rf.unpersist()
    idx_rf.unpersist()

    _v5_spec = CATALOG["training_corpus_pipeline_v5"]
    refold(
        "training_corpus_pipeline_v5",
        lambda: noop_fp(
            "training_corpus_pipeline_v5", _v5_spec.fn(spark, SF_DIR)
        ),
    )

    total = round(
        sum(timings[q] for q in HEADLINE)
        + timings["pack_sequences"] + timings["sim_topk_quantized"]
        + timings["xlsx_write"] + timings["xlsx_read"]
        + timings["csv_write"] + timings["csv_read"],
        3,
    )
    total_ext = round(total + sum(timings[q] for q in EXTENSION_LEGS), 3)
    sf = _sf_from_dir(SF_DIR)
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_detail.json"
    )
    # SELF-DETECTING SCOPE DRIFT (round-6 verdict #2): compare this
    # run's plan fingerprints against the previous detail file; a leg
    # whose fingerprint moved while its LEG_SCOPE tag stayed identical
    # is an UNTAGGED plan change — recorded in the artifact and warned,
    # so the r6 dedup_token_blocks bookkeeping miss cannot recur
    # silently.  r14 (r13 verdict what's-wrong #4): the comparison is
    # on the tag's PLAN-scope version component (the first `vN:`
    # segment, `meas-vN:` measurement bumps excluded), not raw tag
    # text — in r13 v5's plan gained the fan_out Exchange while its
    # tag was bumped for a measurement-only reason, and text
    # inequality let the plan change ride through unflagged.
    def _plan_scope_version(tag) -> str:
        if not tag:
            return "v1"  # unlisted legs are implicitly v1
        m = re.search(r"(?<!meas-)\bv(\d+):", tag)
        return f"v{m.group(1)}" if m else "v1"

    untagged_drift: list[str] = []
    try:
        with open(detail_path) as fh:
            prev = json.load(fh)
        prev_fps = prev.get("plan_fingerprints", {})
        prev_scopes = prev.get("leg_scopes", {})
        # r9: same-sf runs only (the ladder gate's rule) — the input
        # parquet paths sit in the analyzed plan, so an sf0.01 sanity
        # run vs an sf0.1 artifact false-flags every leg it shares
        if prev.get("sf") != sf:
            prev_fps = {}
        if prev.get("fingerprint_version") == _FINGERPRINT_VERSION:
            for name, fp in plan_fps.items():
                old = prev_fps.get(name)
                if (
                    old
                    and old != fp
                    and _plan_scope_version(prev_scopes.get(name))
                    == _plan_scope_version(LEG_SCOPE.get(name))
                ):
                    untagged_drift.append(name)
    except (OSError, ValueError):
        pass  # first fingerprinted round: establishes the baseline
    if untagged_drift:
        print(
            "  WARNING untagged plan drift (fingerprint moved, scope tag "
            f"unchanged): {sorted(untagged_drift)} — bump LEG_SCOPE or "
            "explain via ROUND_SCOPE_NOTES",
            file=sys.stderr,
        )
    with open(detail_path, "w") as fh:
        json.dump(
            {
                "metric": "headline_total",
                "value": total,
                "unit": "sec",
                "value_with_extension_legs": total_ext,
                "n_runs": N_RUNS,
                "queries": timings,
                "runs": runs,
                "scale_ladder": scale_ladder,
                "increment_ladder": increment_ladder,
                "serving_ladder": serving_ladder,
                # I/O noise bands (r8, verdict #7): the xlsx legs'
                # r7 drift had no variance evidence; the band makes
                # environmental swings self-explaining per artifact
                # r9 (verdict #3): which medium the I/O legs wrote to —
                # a /dev/shm-vs-disk flip is the single biggest
                # environmental lever on csv_write and must be
                # decidable from the artifact
                "scratch_medium": (
                    "tmpfs" if os.path.isdir("/dev/shm") else "disk"
                ),
                "io_noise_bands": {
                    leg: {
                        "min": min(r),
                        "max": max(r),
                        "spread": round(max(r) / max(min(r), 1e-9), 3),
                    }
                    for leg, r in runs.items()
                    if leg in ("xlsx_write", "xlsx_read",
                               "csv_write", "csv_read",
                               "warc_write", "warc_read")
                },
                "leg_scopes": LEG_SCOPE,
                "round_scope_notes": ROUND_SCOPE_NOTES,
                "plan_fingerprints": dict(sorted(plan_fps.items())),
                "fingerprint_version": _FINGERPRINT_VERSION,
                "untagged_plan_drift": sorted(untagged_drift),
                "sf": sf,
            },
            fh,
            indent=1,
        )
        fh.write("\n")
    # COMPACT final line only (the driver tail-captures stdout and the
    # r5 line with runs+ladder inlined outgrew the window -> parsed:null).
    # r12: the window is 2,000 chars and the r11 line (~2,050 bytes
    # after four new legs) overflowed it AGAIN — BENCH_r11.json records
    # parsed: null.  The line now guarantees fit: seconds rounded to 2
    # decimals, the *_rows_per_sec rates live in the detail file only
    # (they are derivable from the seconds + fixed row counts).  r14
    # (r13 verdict #2: queries_omitted hit 8 and four legs lost driver
    # round-over-round visibility): compact json separators — the
    # default ", " / ": " separators wasted ~150 bytes against the
    # budget — and the optional "detail" pointer is shed BEFORE any
    # leg.  Budget 1,950 of the driver's measured 2,000-char tail
    # window (BENCH_r11..r13 tails are exactly 2,000 chars and the
    # line prints last): the full 69-leg line is ~1,934 bytes compact,
    # so every timed leg fits; only if future legs outgrow even that
    # do the CHEAPEST legs drop from the stdout copy (never from
    # bench_detail.json), with queries_omitted recording how many.
    line_q = {
        k: round(v, 2)
        for k, v in timings.items()
        if not k.endswith("_rows_per_sec")
    }
    omitted = 0
    with_detail = True

    def _line() -> str:
        payload = {
            "metric": "headline_total",
            "value": total,
            "unit": "sec",
            "queries": line_q,
            "sf": sf,
        }
        if with_detail:
            payload["detail"] = "bench_detail.json"
        if omitted:
            payload["queries_omitted"] = omitted
        return json.dumps(payload, separators=(",", ":"))

    BUDGET = 1950
    if len(_line()) > BUDGET:
        with_detail = False  # optional pointer sheds before any leg
    while len(_line()) > BUDGET and line_q:
        cheapest = min(line_q, key=line_q.get)
        del line_q[cheapest]
        omitted += 1
    print(_line())


if __name__ == "__main__":
    main()
