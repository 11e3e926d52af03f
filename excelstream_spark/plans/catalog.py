"""Query catalog: the single registry behind ``__spark_entry__.queries()``.

Every implemented operator registers here with
  - a Spark callable ``(spark, sf_dir) -> DataFrame`` (the implementation), and
  - optionally an ANSI-SQL oracle string DuckDB can evaluate over the same
    parquet tables (the correctness contract).

Column names are part of the contract: the driver sorts columns by name
before hashing values, so the Spark result and the oracle must use
identical aliases.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: SparkQuery
    oracle: str | None = None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


CATALOG: dict[str, QuerySpec] = {}

#: Export order for ``queries()`` / ``oracle_sql()``.  The driver's
#: CORRECTNESS gate evaluates registrations in order (round 1 stopped at
#: 50), so the entries that prove the reference's core competency (xlsx/
#: csv round-trips), the flagship pipeline, and the scale/streaming
#: operators are exported FIRST; names not listed follow in registration
#: order (DEMOTED entries last).  At most 50 entries precede the DEMOTED
#: tail so every windowed query gets a hard-signal row every round.
PRIORITY: tuple[str, ...] = (
    # round-1 driver window missed these — front of the line
    "xlsx_roundtrip_lineitem",
    "csv_roundtrip_orders",
    "excel_serial_dates",
    "lenient_casts",
    "training_corpus_pipeline",
    "streaming_dedup_replay",
    "streaming_user_tracker",
    "skew_salted_join_agg",
    "join_interval_binned",
    "dedup_embedding_lsh",
    "text_token_pieces",
    # round-4 additions: operator families previously without driver rows
    "components_dedup_clusters",
    # (sim_topk_quantized left this block in r9: demoted to fund the
    # frequent_tokens promotion — see the DEMOTED annotation)
    "pack_sequences_audit",
    "corpus_sampling_exact",
    "streaming_xlsx_sink",
    # round-1 hash-fails, fixed in round 2 — early so regressions surface
    "agg_distinct_count",
    "null_semantics",
    "json_extract_props",
    # (agg_percentiles_arrays left this block in r10: demoted to fund
    # the sim_pq_topk_reranked promotion — see the DEMOTED annotation)
)


#: Entries exported LAST — i.e. past the driver's 50-entry correctness
#: window — but still registered (pytest's full-catalog oracle sweep
#: covers them every run).
#:
#: DEMOTED-TAIL POLICY (r8, r7 verdict #6 — stated before the tail
#: outgrows review):
#:   1. Every demoted entry stays REGISTERED with its oracle and is
#:      hash-verified by pytest's full-catalog sweep and the verify
#:      skill every run — demotion only moves a row past the driver's
#:      50-slot hard-signal window, it never weakens its oracle.
#:   2. A promotion must name the row it demotes (one-in-one-out; the
#:      window is always exactly full — test_driver_window_arithmetic).
#:   3. A row is demotion-ELIGIBLE only if its operator family keeps
#:      >= 2 in-window representatives after the move (never demote a
#:      family's last driver row), or if a strictly-superset composed
#:      row covers its plan shape in-window.
#:   4. The tail is SOFT-CAPPED at 25 entries: once full, adding a new
#:      catalog entry requires either folding it into an existing
#:      family entry (the multimodal_fingerprints precedent) or a
#:      merit promotion — and a merit promotion may push the tail past
#:      the cap ONLY when the row it demotes satisfies rule 3's
#:      strongest form (its plan shape is wholly contained in an
#:      in-window COMPOSED row, so the demotion loses no shape
#:      coverage at all).  Anything else is a folding problem, not a
#:      growth problem — the tail is a rotation buffer, not a
#:      landfill.  (Amended r8 when training_corpus_pipeline_v4
#:      demoted dedup_exact — contained in both v1's and v4's composed
#:      oracles — to tail slot 26.)
#:   5. Each rotation is annotated in place (the comments below are
#:      the audit trail the verdict reads).
#:
#: r6: join_range demoted to free a slot for
#: the dedicated sort_topk row; range-join semantics keep a driver row
#: via join_interval_binned.  r7 (verdict #1): four relational rows
#: with overlapping family coverage rotate out to fund hard-signal rows
#: for the round-6 operator families (dedup_token_chunks_cdc,
#: dedup_winnowing, full_repetition_gate) plus the composed
#: training_corpus_pipeline_v2 — no family loses its last driver row:
#:   join_outer_coalesce  -> joins keep q3/q5-class, q19, asof,
#:                           interval_binned, skew_salted, exists;
#:   q5_region_revenue    -> the multi-join + agg + topk shape stays
#:                           covered by q3_shipping_priority;
#:   events_time_rollup   -> time/date keeps date_math_functions and
#:                           sessionize_events; agg keeps q1 + three
#:                           dedicated agg rows;
#:   subquery_thresholds  -> the subquery family keeps
#:                           exists_not_exists.
#: r9 rotation summary (verdict #2/#4/#5):
#:   multimodal_fingerprints PROMOTED in-window (carrying the r9 skew
#:     bounds: degenerate-fp quarantine + band-bucket cap + audit) over
#:     dedup_ngram_jaccard;
#:   frequent_tokens (NEW row — MG heavy hitters + exact recount)
#:     promoted in-window over sim_topk_quantized;
#:   dedup_embedding and sim_topk_bruteforce FOLDED out of the catalog
#:     entirely (policy rule 4): both are the recall oracles INSIDE the
#:     in-window LSH/IVF/quantized rows' pytest suites, and their DuckDB
#:     hash gates moved verbatim to tests/test_quality_semantic.py —
#:     no hash-level check was lost, and the tail returns to its
#:     25-entry soft cap (registered total 76 -> 75).
#: r10 rotation summary (verdict #1/#2/#3/#7):
#:   training_corpus_pipeline_v5 (NEW row — the MULTIMODAL pretraining
#:     capstone: image twins -> perceptual fingerprints -> the full
#:     dedup_image_ahash pair semantics -> components ->
#:     dedup_keep_best -> shard manifest; the hard signal for both the
#:     media-dedup composition and the keep-best closure) promoted
#:     in-window over multimodal_resize_sample;
#:   sim_pq_topk_reranked (NEW row — the PQ family's hard-signal row:
#:     init codebook -> engine-exact encode -> ADC candidates -> exact
#:     re-rank, the whole composition replayed in SQL) promoted
#:     in-window over agg_percentiles_arrays;
#:   dedup_ngram_containment and join_range FOLDED out of the catalog
#:     entirely (policy rule 4): containment's plan is IDENTICAL to the
#:     registered dedup_ngram_jaccard row's (only the closing
#:     arithmetic differs), range-join semantics keep their driver row
#:     via join_interval_binned (the r6 demotion's own argument), and
#:     both DuckDB hash gates moved verbatim to
#:     tests/test_catalog_oracle.py — no hash-level check was lost and
#:     the tail stays at its 25-entry soft cap (registered total 75).
#: r10 LATE rotation (the video family's hard-signal row, the PQ
#: precedent executed within the same round):
#:   video_dedup_containment (NEW row — REAL APNG decode -> per-frame
#:     aHash/dHash -> frame-set containment close with the production
#:     skew bounds, the whole chain replayed arithmetically in SQL)
#:     promoted in-window over multimodal_features;
#:   dedup_exact FOLDED out of the catalog entirely (policy rule 4,
#:     STRONGEST form — the annotation it carried since r8 already
#:     stated it: the md5-groupBy min-id shape is wholly contained in
#:     BOTH training_corpus_pipeline (v1) and v4's in-window composed
#:     oracles); its DuckDB hash gate moved verbatim to
#:     tests/test_catalog_oracle.py::test_folded_dedup_exact_oracle —
#:     no hash-level check was lost and the tail stays at its 25-entry
#:     soft cap (registered total 75).
#: r11 rotation summary (r10 verdict #2/#5):
#:   video_increment_containment (NEW row — the video family's SERVING
#:     path: stored-corpus fp sets + build-time sizes vs a decoded
#:     increment, the asymmetric build-time-prune contract replayed in
#:     SQL via oracles.video_increment_oracle) promoted in-window over
#:     multimodal_fingerprints;
#:   cm_frequency_estimates (NEW row — the Count-Min family's
#:     hard-signal row: deterministic counter table + broadcast point
#:     estimates for every distinct corpus token, cell hashes and the
#:     one-sided min-estimate arithmetic replayed bit-for-bit via
#:     oracles.cm_estimate_oracle) promoted in-window over
#:     dedup_winnowing;
#:   corpus_shard_manifest FOLDED out of the catalog entirely (policy
#:     rule 4 STRONGEST form: the manifest aggregation is inlined
#:     verbatim inside training_corpus_pipeline_v4's in-window
#:     composed oracle and v5 carries its own manifest gate) and
#:   q5_region_revenue FOLDED out (rule 4: the multi-join + agg shape
#:     stays in-window via q3_shipping_priority — the r7 demotion's
#:     own argument); both DuckDB hash gates moved verbatim to
#:     tests/test_catalog_oracle.py — no hash-level check was lost and
#:     the tail stays at its 25-entry soft cap (registered total 75).
#: r12 rotation summary (r11 verdict #1):
#:   audio_dedup_containment (NEW row — the audio family's hard-signal
#:     row: windowed WAV fingerprints closed by the video family's
#:     containment operator UNCHANGED, the modality-generic contract
#:     proven at the hash level via the SHARED _fp_containment_close_sql
#:     CTE) promoted in-window over video_dedup_containment (rule 3
#:     STRONGEST form: the symmetric containment close stays in-window
#:     BIT-FOR-BIT through the new audio row — same operator, same SQL
#:     close text — and the APNG decode + dual-hash chain stays
#:     in-window through video_increment_containment's oracle; the
#:     multimodal family keeps that serving row, v5 and the audio row
#:     in-window);
#:   dedup_ngram_jaccard FOLDED out of the catalog entirely (policy
#:     rule 4, the fold the r11 verdict itself proposed): its plan is
#:     IDENTICAL to the r10-folded dedup_ngram_containment's (the two
#:     siblings' gates now sit side by side in
#:     tests/test_catalog_oracle.py), the shingle pair close stays
#:     in-window via dedup_minhash_lsh (whose oracle IS the brute-force
#:     jaccard answer) and the composed v2 pipeline — no hash-level
#:     check was lost and the tail stays at its 25-entry soft cap
#:     (registered total 75).
#: r12 rotation, second move (r11 verdict #2 — language ID):
#:   langid_ngram_rank (NEW row — Cavnar-Trenkle character-n-gram rank
#:     profiles, integer-exact out-of-place distance, the first
#:     language-identification operator) promoted in-window over
#:     dedup_token_chunks_cdc (rule 3 STRONGEST form: the CDC
#:     substring-dedup stage is composed VERBATIM inside the in-window
#:     training_corpus_pipeline_v2 oracle — its stage 4 — and the
#:     dedup family keeps minhash_lsh, embedding_lsh, components and
#:     the four composed pipelines in-window);
#:   events_time_rollup FOLDED out of the catalog entirely (policy
#:     rule 4): the time-bucketed aggregation shape stays in-window via
#:     the streaming event-time rows + sessionize_events, date_trunc
#:     arithmetic stays registered via the tail's date_math_functions,
#:     and its hash gate moved verbatim to tests/test_catalog_oracle.py
#:     — tail stays at 25, registered total 75.
#: r12 rotation, third move (r11 verdict #5 — the cross-modal capstone):
#:   training_corpus_pipeline_v6 (NEW row — video clips + audio tracks
#:     with frame-level DUP and REORDER twins, per-modality order-aware
#:     verified dedup, components, keep-best, manifest gate: the hard
#:     signal that makes the ORDER machinery load-bearing under a
#:     driver hash — a set-only dedup would drop the reorder twins and
#:     move shard counts) promoted in-window over full_repetition_gate
#:     (rule 3 STRONGEST form: the complete 13-rule repetition gate is
#:     composed VERBATIM inside the in-window
#:     training_corpus_pipeline_v2 oracle — its stage 2 — and the
#:     quality family keeps text_analysis, cleaning_pipeline_v3,
#:     streaming_c4_gate and the composed v2/v4 in-window);
#:   subquery_thresholds FOLDED out of the catalog entirely (policy
#:     rule 4): the subquery family keeps exists_not_exists in-window
#:     (the r7 demotion's own argument), the decorrelated
#:     window-average shape stays via window_topn_per_group, and its
#:     hash gate moved verbatim to tests/test_catalog_oracle.py —
#:     tail stays at 25, registered total 75.
#: r13 rotation summary (r12 verdict #3/#4/#5):
#:   streaming_langid_gate (NEW row — the language-ID family's
#:     streaming/serving form: batch-trained rank profiles applied to
#:     the redelivered doc stream by the stateless integer-exact
#:     mapside scorer; n_deliveries/n_distinct_calls/batch-parity
#:     facts, the classifier-gate contract) promoted in-window over
#:     streaming_c4_gate (rule 3 STRONGEST form: the complete C4
#:     line-rule arithmetic is composed verbatim inside the in-window
#:     cleaning_pipeline_v3 AND training_corpus_pipeline_v4 oracles,
#:     and the stateless-gate contract keeps an in-window
#:     representative through the NEW langid gate — same
#:     redelivery-idempotence + batch-parity oracle shape);
#:   dedup_paired_crossmodal (NEW row — cross-modal PAIRED dedup: the
#:     LAION-rule (image, caption) decision matrix with quadrant
#:     twins; image side through the real APNG frame-0 aHash chain,
#:     caption side through the shared inverted-index shingle body)
#:     promoted in-window over dedup_minhash_lsh (rule 3 STRONGEST
#:     form: the minhash-LSH close is composed verbatim inside the
#:     in-window training_corpus_pipeline_v2 — its stage 5, whose
#:     oracle IS the same brute-force jaccard answer the minhash row
#:     gates against — and the dedup family keeps embedding_lsh,
#:     components, the composed v1/v2/v4/v5/v6 pipelines AND the new
#:     paired row in-window);
#:   dedup_url_canonical (NEW row — provenance/URL canonical exact
#:     dedup, the cheapest first-pass web-corpus stage) registered
#:     born-past-the-window (the streaming_dsir_gate precedent);
#:   pivot_status, string_functions and date_math_functions FOLDED out
#:     of the catalog entirely (policy rule 4 — funding the three
#:     registrations above, tail back to its 25-entry soft cap): the
#:     pivot's conditional-agg shape stays in-window via
#:     q1_pricing_summary + agg_distinct_count, the scalar-string
#:     family keeps json_extract_props + text_token_pieces, temporal
#:     semantics keep excel_serial_dates + join_asof + sessionize
#:     (each fold reusing its own earlier demotion argument); all
#:     three DuckDB hash gates moved verbatim to
#:     tests/test_catalog_oracle.py — no hash-level check was lost and
#:     the registered total stays 75.
DEMOTED: tuple[str, ...] = (
    "streaming_c4_gate",  # r13 rotation (r12 verdict #3): funds the
    # promoted streaming_langid_gate row (the language-ID family's
    # streaming/serving form); demotion-eligible in rule 3's STRONGEST
    # form — the complete C4 line-rule arithmetic (c4_metrics) is
    # composed verbatim inside the in-window cleaning_pipeline_v3 AND
    # training_corpus_pipeline_v4 oracles, and the stateless-gate
    # contract (redelivery idempotence + stream-vs-batch parity facts)
    # keeps an in-window representative through the new langid gate;
    # the row keeps its bench leg, its oracle and the pytest hash sweep
    "dedup_minhash_lsh",  # r13 rotation (r12 verdict #4): funds the
    # promoted dedup_paired_crossmodal row (the first PAIRED
    # cross-modal dedup); demotion-eligible in rule 3's STRONGEST form
    # — the minhash-LSH close is composed verbatim inside the
    # in-window training_corpus_pipeline_v2 (its stage 5, whose oracle
    # is the same brute-force jaccard answer this row gates against),
    # and the dedup family keeps embedding_lsh, components, the
    # composed v1/v2/v4/v5/v6 pipelines and the new paired row
    # in-window; the row keeps its HEADLINE bench leg, its POST_LADDER
    # treatment, its scale-ladder rung, its oracle and the pytest
    # hash sweep
    "dedup_url_canonical",  # r13: born past the window (the
    # streaming_dsir_gate precedent) — fully DuckDB-oracled
    # provenance/URL canonical dedup (r12 verdict #5), swept by
    # pytest; the exact-dedup close shape stays in-window via v1/v4's
    # composed oracles
    "full_repetition_gate",  # r12 rotation (r11 verdict #5): funds
    # the promoted training_corpus_pipeline_v6 row (the cross-modal
    # capstone); demotion-eligible in rule 3's STRONGEST form — the
    # complete 13-rule repetition gate is composed verbatim inside the
    # in-window v2 oracle (its stage 2), and the quality family keeps
    # text_analysis, cleaning_pipeline_v3, streaming_c4_gate and the
    # composed v2/v4 in-window; the row keeps its bench leg
    # (repetition_full_gate), its scale-ladder rung, its oracle and
    # the pytest hash sweep
    "dedup_token_chunks_cdc",  # r12 rotation (r11 verdict #2): funds
    # the promoted langid_ngram_rank row (the first language-ID
    # operator); demotion-eligible in rule 3's STRONGEST form — the
    # CDC substring-dedup stage is composed verbatim inside the
    # in-window training_corpus_pipeline_v2 oracle (its stage 4), and
    # the dedup family keeps minhash_lsh, embedding_lsh, components
    # and the composed v1/v2/v4/v5 pipelines in-window; the row keeps
    # its bench leg, its scale-ladder rung, its oracle and the pytest
    # hash sweep
    "video_dedup_containment",  # r12 rotation (r11 verdict #1): funds
    # the promoted audio_dedup_containment row (the audio family's
    # hard-signal row); demotion-eligible in rule 3's STRONGEST form —
    # the symmetric containment close is the SAME operator and the SAME
    # shared SQL close CTE the new in-window audio row runs, and the
    # APNG decode + per-frame aHash chain stays in-window via
    # video_increment_containment's oracle (video_frame_fp_oracle); the
    # row keeps its bench leg, its oracle and the pytest hash sweep
    "multimodal_fingerprints",  # r11 rotation (r10 verdict #5): funds
    # the promoted video_increment_containment row (the video family's
    # serving path); demotion-eligible in rule 3's STRONGEST form —
    # the full banded pair semantics (degenerate star closure,
    # dual-hash verify) are composed verbatim inside the in-window
    # training_corpus_pipeline_v5 oracle — and the multimodal family
    # keeps video_dedup_containment, v5 and the new serving row
    # in-window; the row keeps its bench leg, its oracle and the
    # pytest hash sweep
    "dedup_winnowing",  # r11 rotation (r10 verdict #2): funds the
    # promoted cm_frequency_estimates row (the Count-Min family's
    # hard-signal row); the dedup family remains the window's most
    # over-represented (minhash_lsh, token_chunks_cdc, embedding_lsh,
    # components, the composed v1/v2/v4/v5 pipelines — policy rule 3),
    # and winnowing keeps its bench leg, scale/serving ladder rungs,
    # its oracle and the pytest hash sweep
    "multimodal_features",  # r10 late rotation: funds the promoted
    # video_dedup_containment row (the video family's hard-signal row);
    # the multimodal family keeps multimodal_fingerprints,
    # training_corpus_pipeline_v5 AND the new video row in-window
    # (policy rule 3), and the decode/feature row keeps its bench leg,
    # its oracle and the pytest hash sweep
    "multimodal_resize_sample",  # r10 rotation (verdict #2): funds the
    # promoted training_corpus_pipeline_v5 row; the multimodal family
    # keeps multimodal_features, multimodal_fingerprints AND v5
    # in-window (policy rule 3), and the resize/transcode/decimate row
    # keeps its bench leg, its oracle and the pytest hash sweep
    "agg_percentiles_arrays",  # r10 rotation (verdict #1): funds the
    # promoted sim_pq_topk_reranked row (the PQ family's hard-signal
    # row); the aggregation family keeps q1_pricing_summary and
    # agg_distinct_count in-window (policy rule 3), percentile/array
    # aggregates stay hash-verified via pytest's full-catalog sweep
    # plus the dedicated events-fixture test in test_catalog_oracle.py
    # (dedup_ngram_jaccard left this tail in r12 by FOLDING:
    # unregistered entirely — policy rule 4, the fold the r11 verdict
    # itself proposed, funding the audio_dedup_containment promotion;
    # its hash gate moved verbatim to tests/test_catalog_oracle.py::
    # test_folded_dedup_ngram_jaccard_oracle beside its r10-folded
    # containment sibling's, and the shingle pair close stays in-window
    # via dedup_minhash_lsh + the composed v2 pipeline.  It had sat
    # here since r9, funding the multimodal_fingerprints promotion.)
    "sim_topk_quantized",  # r9 rotation (verdict #4): funds the
    # promoted frequent_tokens row (the heavy-hitters family's first
    # hard-signal row); the similarity family keeps sim_ann_ivf and
    # dedup_embedding_lsh in-window (policy rule 3), and the int8
    # quantized top-k stays hash-verified via pytest's full-catalog
    # sweep plus its bench leg
    # (dedup_exact left this tail late-r10 by FOLDING: unregistered
    # entirely — policy rule 4 strongest form, funding the
    # video_dedup_containment promotion; its hash gate moved verbatim
    # to tests/test_catalog_oracle.py and the md5-groupBy min-id shape
    # stays in-window inside v1's and v4's composed oracles)
    # (pivot_status left this tail in r13 by FOLDING: unregistered
    # entirely — policy rule 4, funding the dedup_url_canonical
    # registration; its hash gate moved verbatim to
    # tests/test_catalog_oracle.py::test_folded_pivot_status_oracle
    # and the conditional-agg shape stays in-window via
    # q1_pricing_summary + agg_distinct_count.  It had sat here since
    # r8, funding the bpe_train_merges promotion.)
    "q19_disjunctive_predicates",  # r8 rotation (verdict #2): funds
    # the promoted cleaning_pipeline_v3 row (the composed NFC -> C4 ->
    # PII scan-stage preamble every 100 TB run executes first);
    # disjunctive filter pushdown stays exercised by every scan oracle
    # and the row stays hash-verified via pytest's sweep
    "dedup_simhash",  # r8 rotation (verdict #2): funds the promoted
    # streaming_c4_gate row (stream-vs-batch decision parity for the
    # C4 family); the dedup family is the window's most over-
    # represented (exact, ngram_jaccard, minhash_lsh, token_chunks_cdc,
    # winnowing, embedding_lsh all stay in-window — policy rule 3),
    # and simhash keeps its bench leg, its scale-ladder rung and the
    # pytest hash sweep
    # (string_functions left this tail in r13 by FOLDING: unregistered
    # entirely — policy rule 4, funding the dedup_paired_crossmodal
    # promotion's tail arithmetic; its hash gate moved verbatim to
    # tests/test_catalog_oracle.py::test_folded_string_functions_oracle
    # and the scalar-string family keeps json_extract_props +
    # text_token_pieces in-window.  It had sat here since late r7,
    # funding the multimodal_resize_sample promotion.)
    "warc_roundtrip_documents",  # r13: born past the window (the
    # dedup_url_canonical precedent) — WARC (ISO 28500, the Common
    # Crawl container) write->read round-trip, content_length gated
    # against DuckDB's own UTF-8 byte count; the io-parity family
    # keeps xlsx_roundtrip_lineitem and csv_roundtrip_orders in-window.
    # Funded by FOLDING streaming_classifier_gate (policy rule 4 — it
    # had sat here since r7): the stateless-gate contract (redelivery
    # idempotence + stream-vs-batch score parity) keeps its in-window
    # representative via the r13-promoted streaming_langid_gate, the
    # classifier family keeps quality_classifier_filter in-window, and
    # its hash gate moved verbatim to tests/test_catalog_oracle.py::
    # test_folded_streaming_classifier_gate_oracle (the full
    # availableNow replay, not a batch approximation)
    # (sim_topk_bruteforce left this tail in r9 by FOLDING: unregistered
    # entirely — policy rule 4; hash gate moved to
    # tests/test_quality_semantic.py, recall-oracle duty unchanged)
    "agg_grouping_multi",  # r7 late rotation: funds the
    # lm_perplexity_buckets driver row (new operator family — bigram
    # stupid-backoff LM + CCNet perplexity terciles); the aggregation
    # family keeps agg_distinct_count, agg_percentiles_arrays and
    # q1_pricing_summary in-window, and the rollup/cube/grouping-sets
    # shapes stay hash-verified via the CUBE in corpus_curation's
    # oracle plus pytest's full-catalog sweep
    "html_extract_text",  # r13: born past the window (the
    # dedup_url_canonical precedent) — HTML -> text extraction
    # (functions/html.py), the stage between WARC ingest and the C4
    # rules; the oracle replays the identical regex chain through
    # DuckDB (shared pattern strings, shared fixture SQL).  Funded by
    # FOLDING window_analytics (policy rule 4 — it had sat here since
    # r7): the window family keeps window_topn_per_group and
    # sessionize_events in-window (the r7 demotion's own argument),
    # and its hash gate moved verbatim to tests/test_catalog_oracle.py
    # ::test_folded_window_analytics_oracle
    "corpus_decontaminate",  # r7: born past the window (50 slots spoken
    # for); fully oracled, swept by pytest's whole-catalog test
    "streaming_dsir_gate",  # r7: born past the window; the
    # stream-vs-batch score-parity row for the selection family
    # (bpe_train_merges left this tail in r8: its unrolled-merge-CTE
    # oracle landed and it was promoted over pivot_status)
    # (date_math_functions left this tail in r13 by FOLDING:
    # unregistered entirely — policy rule 4, funding the
    # streaming_langid_gate promotion's tail arithmetic; its hash gate
    # moved verbatim to tests/test_catalog_oracle.py::
    # test_folded_date_math_functions_oracle and temporal semantics
    # keep excel_serial_dates, join_asof_forward_tolerance and
    # sessionize_events in-window.  It had sat here since late r7,
    # funding the dsir_select_resample promotion.)
    "dedup_increment_bloom",  # r7: born past the window (50 slots
    # spoken for); fully DuckDB-oracled — the Bloom membership-sketch
    # gate for the incremental family, swept by pytest's full-catalog
    # test; the incremental family's plan shapes stay driver-covered
    # via training_corpus_pipeline_v2's artifact reuse
    "c4_line_filter",  # r7: born past the window; the C4 cleaning
    # rules (Raffel et al. 2020 §2.2) — fully DuckDB-oracled (retained
    # text hash-gated string-for-string), swept by pytest's
    # full-catalog test; the rule-based-cleaning family keeps
    # text_analysis and full_repetition_gate in-window
    # (dedup_ngram_containment left this tail in r10 by FOLDING:
    # unregistered entirely — policy rule 4; its plan is identical to
    # the registered dedup_ngram_jaccard row's and its hash gate moved
    # verbatim to tests/test_catalog_oracle.py.  streaming_c4_gate left
    # this tail in r8: promoted over dedup_simhash — the
    # stateless-gate family's first driver row)
    "cardinality_kmv_tokens",  # r7: born past the window; the KMV
    # cardinality sketch (deterministic k-minimum-values — unlike HLL
    # the estimate itself hash-gates) — fully DuckDB-oracled, swept by
    # pytest's full-catalog test; the sketch family keeps
    # dedup_increment_bloom's pytest row (membership) as its sibling
    # (cleaning_pipeline_v3 left this tail in r8: promoted over
    # q19_disjunctive_predicates — the composed cleaning preamble)
    "text_nfc_normalize",  # r7: born past the window; Unicode NFC
    # normalization (Arrow unicodedata vs DuckDB utf8proc, hash-pinned
    # to each other) — fully DuckDB-oracled, swept by pytest's
    # full-catalog test
    "corpus_epoch_order",  # r7: born past the window; reproducible
    # per-epoch training order (md5 draw + per-shard rank) — fully
    # DuckDB-oracled, swept by pytest's full-catalog test
    # (corpus_shard_manifest left this tail in r11 by FOLDING:
    # unregistered entirely — policy rule 4 strongest form; its
    # manifest aggregation is inlined verbatim inside v4's in-window
    # composed oracle, v5 carries its own manifest gate, and its hash
    # gate moved verbatim to tests/test_catalog_oracle.py::
    # test_folded_corpus_shard_manifest_oracle)
    # (multimodal_fingerprints left this tail in r9: promoted over
    # dedup_ngram_jaccard once the pair stage gained its skew bounds —
    # the r8 verdict's ordering.  dedup_embedding left in r9 too, by
    # FOLDING: unregistered entirely, hash gate moved to
    # tests/test_quality_semantic.py, recall-oracle duty unchanged)
    "join_outer_coalesce",
    # (q5_region_revenue left this tail in r11 by FOLDING:
    # unregistered entirely — policy rule 4; the multi-join + agg +
    # dimension-broadcast shape stays in-window via
    # q3_shipping_priority, and its hash gate moved verbatim to
    # tests/test_catalog_oracle.py::test_folded_q5_region_revenue_oracle)
    # (events_time_rollup left this tail in r12 by FOLDING:
    # unregistered entirely — policy rule 4, funding the
    # langid_ngram_rank promotion; the time-bucketed aggregation shape
    # stays in-window via the streaming event-time rows +
    # sessionize_events, and its hash gate moved verbatim to
    # tests/test_catalog_oracle.py::test_folded_events_time_rollup_oracle.
    # subquery_thresholds left this tail in r12 by FOLDING too —
    # policy rule 4, funding the training_corpus_pipeline_v6 promotion;
    # the subquery family keeps exists_not_exists in-window and its
    # hash gate moved verbatim to test_folded_subquery_thresholds_oracle)
    # (join_range left this tail in r10 by FOLDING: unregistered
    # entirely — policy rule 4; range-join semantics keep their driver
    # row via join_interval_binned and its hash gate moved verbatim to
    # tests/test_catalog_oracle.py)
)


def _ordered() -> list[QuerySpec]:
    head = [CATALOG[n] for n in PRIORITY if n in CATALOG]
    skip = set(PRIORITY) | set(DEMOTED)
    mid = [s for n, s in CATALOG.items() if n not in skip]
    tail = [CATALOG[n] for n in DEMOTED if n in CATALOG]
    return head + mid + tail


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):  # decorator
    """Register a catalog query.  ``oracle=None`` marks ops that are not
    SQL-expressible (the driver falls back to a rows-only check).

    Each registered callable first releases the scoped caches of the
    PREVIOUS query (scope.release_persists): the dedup
    pipelines' persists are load-bearing within one query but must not
    accumulate across a 50-query correctness sweep or repeated bench
    runs (memory growth + "already cached" CacheManager spam)."""

    def wrap(fn: SparkQuery) -> SparkQuery:
        if name in CATALOG:
            raise ValueError(f"duplicate catalog query: {name}")

        def scoped(spark: SparkSession, sf_dir: str) -> DataFrame:
            from excelstream_spark.scope import release_persists

            release_persists()
            return fn(spark, sf_dir)

        scoped.__name__ = fn.__name__
        scoped.__doc__ = fn.__doc__
        CATALOG[name] = QuerySpec(
            name=name, fn=scoped, oracle=oracle, doc=fn.__doc__ or "", tags=tags
        )
        return fn

    return wrap


def spark_queries() -> dict[str, SparkQuery]:
    return {spec.name: spec.fn for spec in _ordered()}


def oracle_queries() -> dict[str, str]:
    return {spec.name: spec.oracle for spec in _ordered() if spec.oracle is not None}
