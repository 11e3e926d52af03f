"""Unit tests for operator semantics the oracle can't cover:
approximate-op recall and as-of join edge cases."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from excelstream_spark.operators import dedup as DD
from excelstream_spark.operators import similarity as SIM
from excelstream_spark.operators.asof import asof_join
from excelstream_spark.tables import load_table

from .conftest import SF_DIR


def test_asof_join_edges(spark):
    left = spark.createDataFrame(
        [
            (1, 10, dt.datetime(2024, 1, 5)),   # after both orders -> latest wins
            (2, 10, dt.datetime(2024, 1, 2)),   # exactly at order time -> inclusive
            (3, 10, dt.datetime(2023, 12, 1)),  # before any order -> unmatched
            (4, 99, dt.datetime(2024, 1, 5)),   # key with no right rows
        ],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (100, 10, dt.datetime(2024, 1, 1)),
            (101, 10, dt.datetime(2024, 1, 2)),
            (102, 10, dt.datetime(2024, 1, 2)),  # same ts as 101 -> max id wins
        ],
        "o_id long, o_cust long, o_ts timestamp",
    )
    out = asof_join(
        left=left, right=right,
        left_time="ts", right_time="o_ts",
        left_by="user_id", right_by="o_cust",
        right_values=["o_id", "o_ts"], tie_break="o_id", how="left",
    )
    rows = {r["event_id"]: (r["o_id"], r["o_ts"]) for r in out.collect()}
    assert rows[1] == (102, dt.datetime(2024, 1, 2))   # latest order, tie -> max id
    assert rows[2] == (102, dt.datetime(2024, 1, 2))   # inclusive <=
    assert rows[3] == (None, None)
    assert rows[4] == (None, None)

    inner = asof_join(
        left=left, right=right,
        left_time="ts", right_time="o_ts",
        left_by="user_id", right_by="o_cust",
        right_values=["o_id"], tie_break="o_id", how="inner",
    )
    assert {r["event_id"] for r in inner.collect()} == {1, 2}


def test_simhash_recall_vs_jaccard(spark):
    docs = load_table(spark, SF_DIR, "documents")
    true_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in DD.dedup_ngram_jaccard(docs, threshold=0.9).collect()
    }
    sim_pairs = {
        (r["doc_a"], r["doc_b"]) for r in DD.dedup_simhash(docs).collect()
    }
    if true_pairs:
        recall = len(true_pairs & sim_pairs) / len(true_pairs)
        assert recall >= 0.5, f"simhash recall {recall} over {len(true_pairs)} pairs"


def _simhash_reference(spark, docs):
    """The pre-vectorization formulation (64 interpreted aggregate()
    lambdas over the token-hash array) kept as the semantic reference:
    the production explode+conditional-sum version must match it
    bit-for-bit."""
    from excelstream_spark.functions import text as TXT

    toks = F.array_distinct(TXT.tokens(F.col("text")))
    th = F.transform(toks, lambda t: F.xxhash64(t))

    def vote(mask_col):
        return F.aggregate(
            th,
            F.lit(0),
            lambda acc, h: acc + F.when(h.bitwiseAND(mask_col) != 0, 1).otherwise(-1),
        )

    terms = []
    for b in range(64):
        mask = -(1 << 63) if b == 63 else (1 << b)
        mask_col = F.lit(mask).cast("bigint")
        terms.append(
            F.when(vote(mask_col) > 0, mask_col).otherwise(F.lit(0).cast("bigint"))
        )
    sig = terms[0]
    for t in terms[1:]:
        sig = sig + t
    return docs.select(F.col("doc_id").alias("id"), sig.alias("simhash"))


def test_simhash_vectorized_byte_equal(spark):
    """The vectorized simhash (one HashAggregate, 64 codegen'd sums)
    produces bit-identical signatures to the per-bit lambda reference."""
    docs = load_table(spark, SF_DIR, "documents").limit(100)
    got = {r["id"]: r["simhash"] for r in DD.simhash_signatures(docs).collect()}
    want = {r["id"]: r["simhash"] for r in _simhash_reference(spark, docs).collect()}
    assert got == want and len(got) == 100


def test_minhash_band_single_parse_byte_equal(spark):
    """r14: minhash_signatures / band_entries build their wide
    expression lists as ONE parsed SQL string (the Column-object form
    cost ~1s of py4j round trips per declaration).  The values must
    stay bit-identical to the per-Column reference formulation."""
    from excelstream_spark.operators.dedup import (
        band_entries,
        minhash_signatures,
        shingle_rows,
    )
    from excelstream_spark.scope import release_persists

    docs = load_table(spark, SF_DIR, "documents").limit(100)
    sigs = minhash_signatures(docs)
    got_sig = {r["id"]: r["sig"] for r in sigs.select("id", "sig").collect()}

    # reference: the pre-r14 Column-object construction
    rows = shingle_rows(docs)
    ref_mins = rows.groupBy("id").agg(
        *[
            F.min(F.xxhash64(F.lit(i), F.col("s"))).alias(f"_m{i}")
            for i in range(128)
        ]
    )
    ref_sigs = ref_mins.select(
        "id", F.array(*[f"_m{i}" for i in range(128)]).alias("sig")
    )
    want_sig = {r["id"]: r["sig"] for r in ref_sigs.collect()}
    assert got_sig == want_sig and len(got_sig) > 0

    got_bands = sorted(
        map(tuple, band_entries(sigs, 32, 4).select("id", "band", "bh").collect())
    )
    ref_bands = ref_sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.hash(F.slice("sig", j * 4 + 1, 4))
                        .cast("long")
                        .alias("bh"),
                    )
                    for j in range(32)
                ]
            )
        ).alias("b"),
    ).select("id", "b.band", "b.bh")
    want_bands = sorted(map(tuple, ref_bands.collect()))
    assert got_bands == want_bands
    release_persists()


def test_langid_hash_after_count_matches_hash_then_count(spark):
    """r14: char_ngram_counts groups on the gram STRING and hashes the
    distinct (key, gram) rows after the count; the (key, gram_h, cnt)
    table must equal the hash-then-count formulation exactly."""
    from excelstream_spark.operators.langid import (
        char_ngram_counts,
        char_ngram_hashes,
    )

    docs = load_table(spark, SF_DIR, "documents").limit(100)
    got = sorted(
        map(
            tuple,
            char_ngram_counts(docs, key_col="doc_id").collect(),
        )
    )
    ref = sorted(
        map(
            tuple,
            char_ngram_hashes(docs, key_col="doc_id")
            .groupBy("doc_id", "gram_h")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect(),
        )
    )
    assert got == ref and len(got) > 0


def test_simhash_md5_mode_matches_python(spark):
    """md5-mode signatures match an independent pure-Python recomputation
    (the same construction the DuckDB oracle uses)."""
    import hashlib

    docs = load_table(spark, SF_DIR, "documents").limit(25)
    got = {
        r["id"]: r["simhash"]
        for r in DD.simhash_signatures(docs, hash_fn="md5").collect()
    }
    import re

    for row in docs.select("doc_id", "text").collect():
        toks = set(re.split(r"\s+", row["text"].strip().lower()))
        votes = [0] * 64
        for t in toks:
            h = hashlib.md5(t.encode()).hexdigest()
            hh, hl = int(h[:8], 16), int(h[8:16], 16)
            for b in range(64):
                bit = (hl >> b) & 1 if b < 32 else (hh >> (b - 32)) & 1
                votes[b] += 1 if bit else -1
        sig = 0
        for b in range(64):
            if votes[b] > 0:
                sig |= 1 << b
        if sig >= 1 << 63:
            sig -= 1 << 64
        assert got[row["doc_id"]] == sig, row["doc_id"]


def test_ivf_recall_vs_bruteforce(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.cosine_topk_bruteforce(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.ivf_topk(emb, queries, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    # probing 3 of ~10 cells: recall must beat the random-probe floor
    assert recall >= 0.3, f"ivf recall {recall}"


def test_minhash_estimates_track_jaccard(spark):
    docs = load_table(spark, SF_DIR, "documents")
    est = DD.dedup_minhash_lsh(docs, threshold=0.7, verify_exact=False)
    exact = DD.dedup_ngram_jaccard(docs, threshold=0.7)
    est_map = {(r["doc_a"], r["doc_b"]): r["est_jaccard"] for r in est.collect()}
    ex_map = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in exact.collect()}
    shared = set(est_map) & set(ex_map)
    if shared:
        errs = [abs(est_map[p] - ex_map[p]) for p in shared]
        assert max(errs) < 0.25, f"minhash estimate error too large: {max(errs)}"


def test_embedding_lsh_recall_vs_exact(spark):
    """Banded LSH candidates must recover a healthy share of the exact
    >0.45-cosine pairs: any-of-8 tables of 4 planes => per-pair recall
    ~1-(1-0.18)^8 ~ 0.8 at cos 0.45 (a single 8-plane table would be
    ~3% — banding IS the recall mechanism)."""
    from excelstream_spark.operators import dedup as DD, similarity as SIM
    from excelstream_spark.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, SF_DIR, "embeddings")
    exact = DD.dedup_embedding_cosine(emb, threshold=0.45).select("id_a", "id_b")
    n_exact = exact.count()
    cand = SIM.lsh_candidate_pairs(emb, n_planes=4, n_tables=8)
    hit = exact.join(cand, ["id_a", "id_b"]).count()
    assert n_exact > 0
    assert hit / n_exact >= 0.5, f"LSH recall {hit}/{n_exact}"


def test_ivf_trained_recall_vs_bruteforce(spark):
    from excelstream_spark.operators import similarity as SIM
    from excelstream_spark.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.cosine_topk_bruteforce(emb, q, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.ivf_topk_trained(emb, q, k=5, n_cells=8, n_probe=3).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"trained-IVF recall {recall:.2f}"


def test_pack_sequences_constraints(spark):
    """Every doc assigned exactly once; no non-oversize bin exceeds
    max_tokens; fill efficiency beats the 2x-optimal next-fit bound."""
    from excelstream_spark.operators.packing import pack_sequences, packing_stats

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), r"\s+")).alias("n_tokens")
    )
    max_tokens = 256
    packed = pack_sequences(docs, tokens_col="n_tokens", max_tokens=max_tokens)
    pdf = packed.toPandas()
    n_docs = docs.count()
    assert len(pdf) == n_docs and pdf["id"].nunique() == n_docs
    fills = pdf[~pdf["oversize"]].groupby("bin_id")["n_tokens"].sum()
    assert (fills <= max_tokens).all()
    # oversize bins hold exactly one doc, each genuinely too long
    over = pdf[pdf["oversize"]]
    assert (over.groupby("bin_id").size() == 1).all()
    assert (over["n_tokens"] > max_tokens).all()
    # packing quality: used bins within 1.5x the capacity lower bound
    # (+ partitions slack for shard-local packing)
    total = int(pdf[~pdf["oversize"]]["n_tokens"].sum())
    lower = -(-total // max_tokens)
    n_parts = docs.rdd.getNumPartitions()
    assert len(fills) <= 1.5 * lower + n_parts
    stats = packing_stats(packed, max_tokens).collect()[0]
    assert stats["n_bins"] == pdf["bin_id"].nunique()
    assert stats["fill_efficiency"] > 0.6
    # bin_slot enumerates each bin 0..n-1
    slot_check = pdf.groupby("bin_id")["bin_slot"].agg(["min", "max", "count"])
    assert (slot_check["min"] == 0).all()
    assert (slot_check["max"] == slot_check["count"] - 1).all()


def test_quantize_roundtrip_and_recall(spark):
    """Int8 quantization: dequantize_expr inverts within scale/2; 
    quantized top-k recall@5 >= 0.9 vs exact float top-k."""
    import numpy as np

    from excelstream_spark.operators.quantize import (
        dequantize_expr,
        quantize_embeddings,
        topk_quantized,
    )
    from excelstream_spark.operators.vectorized import topk_against_broadcast

    emb = load_table(spark, SF_DIR, "embeddings")
    q = quantize_embeddings(emb)
    # size: int8 blob is 4x smaller than float32 array values
    dim = len(emb.select("embedding").first()[0])
    blob_len = q.select(F.octet_length("qvec").alias("l")).agg(F.max("l")).first()[0]
    assert blob_len == dim
    # round-trip error bounded by scale/2 per element (JVM-side rebuild)
    joined = (
        q.join(emb, q["id"] == emb["vec_id"])
        .select("embedding", "scale", dequantize_expr().alias("back"))
        .limit(50)
        .collect()
    )
    for row in joined:
        err = np.abs(np.array(row["embedding"]) - np.array(row["back"]))
        assert (err <= row["scale"] / 2 + 1e-6).all()
    # recall vs exact
    queries = emb.orderBy("vec_id").limit(10)
    exact = topk_against_broadcast(emb, queries, k=5).toPandas()
    approx = topk_quantized(q, queries, k=5).toPandas()
    recall = []
    for qid, grp in exact.groupby("query_id"):
        want = set(grp["neighbor_id"])
        got = set(approx[approx["query_id"] == qid]["neighbor_id"])
        recall.append(len(want & got) / len(want))
    assert sum(recall) / len(recall) >= 0.9


def test_pack_sequences_null_tokens_clear_error(spark):
    """Null token counts raise a clear error naming the offending docs,
    not an opaque NaN-cast traceback."""
    import pytest

    from excelstream_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "doc_id long, n_tokens long"
    )
    with pytest.raises(Exception, match="null token count"):
        pack_sequences(df, max_tokens=64).collect()


def test_packing_stats_all_oversize_defined(spark):
    """fill_efficiency is 0.0 (not null) when every bin is oversize."""
    from excelstream_spark.operators.packing import pack_sequences, packing_stats

    df = spark.createDataFrame(
        [(1, 100), (2, 200)], "doc_id long, n_tokens long"
    )
    packed = pack_sequences(df, max_tokens=10)
    row = packing_stats(packed, 10).collect()[0]
    assert row["oversize_bins"] == 2 and row["fill_efficiency"] == 0.0


def test_corpus_sampling_ops(spark):
    """mix_corpora / stratified / reservoir / seeded_shuffle: exact
    counts where promised, determinism across repartitionings, and
    plausible mixing rates."""
    from excelstream_spark.operators.sampling import (
        mix_corpora,
        reservoir_sample_exact,
        seeded_shuffle,
        stratified_sample_exact,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "lang", "text")

    # stratified: exactly min(n, |stratum|) per lang, deterministic
    strat = stratified_sample_exact(docs, "lang", 7, seed=1)
    counts = {r["lang"]: r["c"] for r in
              strat.groupBy("lang").agg(F.count("*").alias("c")).collect()}
    full = {r["lang"]: r["c"] for r in
            docs.groupBy("lang").agg(F.count("*").alias("c")).collect()}
    assert counts == {k: min(7, v) for k, v in full.items()}
    again = stratified_sample_exact(docs.repartition(13), "lang", 7, seed=1)
    assert sorted(r["doc_id"] for r in strat.collect()) == sorted(
        r["doc_id"] for r in again.collect())

    # reservoir: exact n, deterministic, changes with seed
    r1 = sorted(r["doc_id"] for r in reservoir_sample_exact(docs, 25, seed=5).collect())
    r2 = sorted(r["doc_id"] for r in
                reservoir_sample_exact(docs.repartition(3), 25, seed=5).collect())
    r3 = sorted(r["doc_id"] for r in reservoir_sample_exact(docs, 25, seed=6).collect())
    assert len(r1) == 25 and r1 == r2 and r1 != r3

    # mixing: rate ~ observed fraction; disjoint tagging; deterministic
    n_docs = docs.count()
    mixed = mix_corpora(
        {"full": (docs, 1.0), "half": (docs, 0.5)}, seed=3
    )
    by_src = {r["source"]: r["c"] for r in
              mixed.groupBy("source").agg(F.count("*").alias("c")).collect()}
    assert by_src["full"] == n_docs
    assert 0.35 * n_docs < by_src["half"] < 0.65 * n_docs
    import pytest

    with pytest.raises(ValueError, match="rate"):
        mix_corpora({"bad": (docs, 1.5)})

    # seeded shuffle: a permutation, stable across physical layouts
    s1 = [r["doc_id"] for r in seeded_shuffle(docs, seed=9).collect()]
    s2 = [r["doc_id"] for r in seeded_shuffle(docs.repartition(17), seed=9).collect()]
    assert s1 == s2
    assert sorted(s1) == sorted(r["doc_id"] for r in docs.collect())
    assert s1 != sorted(s1)


def test_connected_components_vs_union_find(spark):
    """Star-contraction components equal a union-find oracle on chains,
    cliques, stars, random graphs, and the real minhash pair output."""
    import random

    from excelstream_spark.operators.components import (
        connected_components,
        dedup_keep_representatives,
    )

    def oracle(edges):
        parent = {}
        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x
        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        for a, b in edges:
            union(a, b)
        return {x: find(x) for x in parent}

    rng = random.Random(7)
    graphs = {
        "chain": [(i, i + 1) for i in range(0, 40)],
        "two_cliques": [(a, b) for a in range(5) for b in range(a + 1, 5)]
        + [(a, b) for a in range(100, 106) for b in range(a + 1, 106)],
        "star": [(0, i) for i in range(1, 30)],
        "reversed_chain": [(i + 1, i) for i in range(50, 80)],
        "random": [(rng.randrange(200), rng.randrange(200)) for _ in range(150)],
    }
    for name, edges in graphs.items():
        edges = [(a, b) for a, b in edges if a != b]
        want = oracle(edges)
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {r["id"]: r["component"]
               for r in connected_components(df).collect()}
        assert got == want, f"{name}: mismatch"

    # end-to-end: minhash pairs -> canonical corpus
    docs = load_table(spark, SF_DIR, "documents")
    pairs = DD.dedup_minhash_lsh(docs)  # (doc_a, doc_b, jaccard)
    canon = dedup_keep_representatives(docs, pairs, id_a="doc_a", id_b="doc_b")
    pr = [(r["doc_a"], r["doc_b"]) for r in pairs.select("doc_a", "doc_b").collect()]
    want = oracle(pr)
    n_docs = docs.count()
    clustered = set(want)
    reps = {v for v in want.values()}
    expect_kept = n_docs - len(clustered) + len(reps)
    assert canon.count() == expect_kept
    kept_ids = {r["doc_id"] for r in canon.select("doc_id").collect()}
    assert reps <= kept_ids
    assert not {x for x in clustered if want[x] != x} & kept_ids


def test_sampling_column_collisions_guarded(spark):
    """mix_corpora refuses to clobber an existing 'source' column;
    stratified/shuffle temp columns dodge same-named user columns."""
    import pytest

    from excelstream_spark.operators.sampling import (
        mix_corpora,
        seeded_shuffle,
        stratified_sample_exact,
    )

    df = spark.createDataFrame(
        [(1, "web", 5), (2, "book", 6)], "doc_id long, source string, _rk long"
    )
    with pytest.raises(ValueError, match="source"):
        mix_corpora({"a": (df, 1.0)})
    tagged = mix_corpora({"a": (df, 1.0)}, source_col="mix_source")
    assert {r["source"] for r in tagged.collect()} == {"web", "book"}
    assert {r["mix_source"] for r in tagged.collect()} == {"a"}
    # user _rk column survives stratified sampling untouched
    out = stratified_sample_exact(df, "source", 1)
    assert sorted(out.columns) == ["_rk", "doc_id", "source"]
    assert {r["_rk"] for r in out.collect()} <= {5, 6}
    shuf = seeded_shuffle(df.withColumnRenamed("_rk", "_shuf"))
    assert sorted(shuf.columns) == ["_shuf", "doc_id", "source"]


def test_full_training_pipeline_composition(spark):
    """End-to-end user story: quality gate -> near-dup pairs -> connected
    components -> canonical corpus -> token packing -> reproducible
    order.  Every stage is an operator from this package; the test pins
    the contract seams between them."""
    from excelstream_spark.operators.components import dedup_keep_representatives
    from excelstream_spark.operators.packing import pack_sequences, packing_stats
    from excelstream_spark.operators.sampling import seeded_shuffle

    docs = load_table(spark, SF_DIR, "documents")
    n_raw = docs.count()

    # 1. near-dup pairs (minhash) -> one representative per cluster
    pairs = DD.dedup_minhash_lsh(docs)
    canon = dedup_keep_representatives(docs, pairs, id_a="doc_a", id_b="doc_b")
    n_canon = canon.count()
    n_dropped = pairs.select("doc_a", "doc_b").toPandas().pipe(
        lambda p: len(set(p["doc_a"]) | set(p["doc_b"]))
    )
    assert n_canon < n_raw and n_canon >= n_raw - n_dropped

    # 2. token counting -> packing into 512-token bins
    tokenized = canon.select(
        "doc_id", F.size(F.split(F.col("text"), r"\s+")).alias("n_tokens")
    )
    packed = pack_sequences(tokenized, max_tokens=512)
    assert packed.count() == n_canon  # nothing lost
    stats = packing_stats(packed, 512).collect()[0]
    assert stats["fill_efficiency"] > 0.5

    # 3. reproducible training order over the packed corpus
    ordered = seeded_shuffle(packed.select("id", "bin_id"), id_col="id", seed=11)
    o1 = [r["id"] for r in ordered.collect()]
    o2 = [r["id"] for r in seeded_shuffle(
        packed.select("id", "bin_id").repartition(7), id_col="id", seed=11
    ).collect()]
    assert o1 == o2 and sorted(o1) == sorted(
        r["doc_id"] for r in canon.select("doc_id").collect()
    )


def test_pack_sequences_invariants_fuzzed(spark):
    """Property test: for arbitrary size distributions and budgets,
    packing preserves every doc exactly once, respects capacity, and
    flags exactly the docs that exceed it."""
    from hypothesis import given, settings, strategies as st

    from excelstream_spark.operators.packing import pack_sequences

    @settings(max_examples=12, deadline=None)
    @given(
        sizes=st.lists(st.integers(min_value=0, max_value=500),
                       min_size=1, max_size=120),
        max_tokens=st.integers(min_value=1, max_value=300),
    )
    def run(sizes, max_tokens):
        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(sizes)], "doc_id long, n_tokens long"
        )
        pdf = pack_sequences(df, max_tokens=max_tokens, open_bins=4).toPandas()
        assert sorted(pdf["id"]) == list(range(len(sizes)))
        fills = pdf[~pdf["oversize"]].groupby("bin_id")["n_tokens"].sum()
        assert (fills <= max_tokens).all()
        assert set(pdf[pdf["oversize"]]["id"]) == {
            i for i, s in enumerate(sizes) if s > max_tokens
        }

    run()


def test_reservoir_two_pass_threshold_path(spark):
    """Large-n guard: forcing the two-pass threshold plan (merge_max=10)
    selects the IDENTICAL rows as the TakeOrdered plan, and its physical
    plan contains no TakeOrderedAndProject over the full input — the
    per-partition counts are the only driver traffic."""
    from excelstream_spark.operators.sampling import reservoir_sample_exact

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "lang")
    small = reservoir_sample_exact(docs, 120, seed=7)
    large = reservoir_sample_exact(docs, 120, seed=7, merge_max=10)
    assert sorted(r["doc_id"] for r in small.collect()) == sorted(
        r["doc_id"] for r in large.collect()
    )
    assert large.count() == 120
    # schema unchanged (the internal hash column is dropped)
    assert large.columns == docs.columns
    plan = large._jdf.queryExecution().executedPlan().toString()
    # Direct plan-shape assertions (a disjunctive substring check here
    # previously passed vacuously):
    # 1. The two-pass output reads ONLY the checkpointed candidates —
    #    zero parquet scans, so it cannot have silently compiled back to
    #    a global TakeOrdered over the raw input.
    assert "Scan parquet" not in plan, plan
    assert "ExistingRDD" in plan, plan  # the localCheckpoint scan
    # 2. At most ONE TakeOrderedAndProject: the boundary head-trim,
    #    which is bounded by a single partition of candidates.  The
    #    whole-partition keep side is a plain partition-id filter.
    assert plan.count("TakeOrderedAndProject") <= 1, plan
    assert "SPARK_PARTITION_ID" in plan, plan
    # 3. Sanity of the dichotomy: the small-n path IS the TakeOrdered
    #    plan over the raw scan.
    small_plan = small._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in small_plan, small_plan
    assert "Scan parquet" in small_plan, small_plan

    # n >= total short-circuits to the input itself
    assert reservoir_sample_exact(docs, 10**9, merge_max=10).count() == docs.count()


def test_lsh_dim_mismatch_fails_loudly(spark):
    """A fixture regeneration that changes embedding dim must ERROR, not
    silently null out every bucket (zip_with pads with nulls) — the same
    silent-corruption class as the round-3 timestamp-unit bug."""
    import pytest

    bad = spark.createDataFrame([(1, [0.1] * 32)], "vec_id long, embedding array<float>")
    with pytest.raises(Exception, match="expected dim=64"):
        SIM.lsh_bucket_candidates(bad, n_planes=2, n_tables=2).collect()


def test_chunk_documents_vs_sql_oracle(spark, duck):
    """Chunk boundaries, overlap carry and clamped tails reproduce
    exactly in SQL (integer arithmetic both sides)."""
    from excelstream_spark.operators.chunking import chunk_documents

    from .conftest import assert_matches_oracle

    docs = load_table(spark, SF_DIR, "documents")
    got = chunk_documents(docs, max_tokens=64, overlap=8)
    assert_matches_oracle(
        got,
        duck,
        """
        WITH t AS (SELECT doc_id,
                          list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS tk
                   FROM documents),
        c AS (SELECT doc_id, tk,
                     unnest(generate_series(
                       0, greatest(1, (len(tk) - 8 + 55) // 56) - 1)) AS i
              FROM t)
        SELECT doc_id, CAST(i AS INT) AS chunk_idx,
               array_to_string(tk[i*56+1 : i*56+64], ' ') AS chunk_text,
               CAST(least(64, len(tk) - i*56) AS INT) AS n_tokens
        FROM c
        """,
    )


def test_chunk_documents_invariants(spark):
    """Every token is covered, consecutive chunks overlap by exactly
    `overlap` (except the clamped tail), short docs pass through whole,
    and the plan has no exchange."""
    from excelstream_spark.operators.chunking import chunk_documents

    import pytest

    one = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(300))), (2, "short doc")],
        "doc_id long, text string",
    )
    out = chunk_documents(one, max_tokens=100, overlap=10).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    # 300 tokens, stride 90: ceil((300-10)/90) = 4 chunks
    assert [r["chunk_idx"] for r in c1] == [0, 1, 2, 3]
    assert [r["n_tokens"] for r in c1] == [100, 100, 100, 30]
    # overlap carry: last 10 tokens of chunk 0 == first 10 of chunk 1
    assert c1[0]["chunk_text"].split()[90:] == c1[1]["chunk_text"].split()[:10]
    # coverage: union of chunks == the full token stream
    assert c1[-1]["chunk_text"].split()[-1] == "t299"
    assert by_doc[2][0]["chunk_text"] == "short doc"
    assert by_doc[2][0]["n_tokens"] == 2

    plan = chunk_documents(one)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(one, max_tokens=10, overlap=10)


def test_quantize_rounding_edges_match_sql(spark, duck):
    """The int8 codec's cross-engine contract at the adversarial points:
    exact .5 quotients round HALF-AWAY (SQL round semantics, both
    signs), amax=0 vectors quantize to zeros with scale 1, and the
    dequantized float32 values reproduce in SQL bit-for-bit."""
    import numpy as np

    from excelstream_spark.operators.quantize import (
        dequantize_expr,
        quantize_embeddings,
    )

    vecs = [
        (1, [127.0, 2.5, -2.5, 0.5, -0.5, 1.0, 0.0, 63.5]),  # scale 1: exact .5s
        (2, [0.0] * 8),                                        # amax=0 -> scale 1
        (3, [25.4, -12.7, 6.35, -3.175, 0.1, 0.2, 0.3, 12.7]),  # scale 0.2
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    q = quantize_embeddings(df)
    got = {
        r["id"]: [int(b) - 256 if b > 127 else int(b) for b in r["qvec"]]
        for r in q.collect()
    }
    # v=127 -> scale exactly 1.0: 2.5 -> 3, -2.5 -> -3, 0.5 -> 1, -0.5 -> -1
    assert got[1] == [127, 3, -3, 1, -1, 1, 0, 64]
    assert got[2] == [0] * 8

    # SQL replay of codes AND dequantized float32 values
    import pandas as pd

    pdf = pd.DataFrame(vecs, columns=["vec_id", "embedding"])
    duck.register("qe_edge", pdf)
    sql = duck.execute(
        """
        WITH sc AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) v,
                 CASE WHEN list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) = 0
                      THEN 1.0
                      ELSE list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127.0
                 END AS s
          FROM qe_edge
        )
        SELECT vec_id,
               list_transform(v, x -> CAST(round(x / s) AS BIGINT)) AS codes,
               list_transform(v, x -> CAST(CAST(round(x / s) AS BIGINT)
                                           * CAST(s AS FLOAT) AS FLOAT)) AS dq
        FROM sc
        """
    ).fetchdf()
    sql_codes = {int(r.vec_id): [int(c) for c in r.codes] for r in sql.itertuples()}
    assert sql_codes == got
    deq = {
        r["vec_id"]: [float(x) for x in r["dq"]]
        for r in q.selectExpr("id as vec_id", "qvec", "scale")
        .select("vec_id", dequantize_expr().alias("dq"))
        .collect()
    }
    sql_dq = {int(r.vec_id): [float(x) for x in r.dq] for r in sql.itertuples()}
    for k in deq:
        assert deq[k] == sql_dq[k], k


def test_clean_text_matches_sql_and_semantics(spark, duck):
    """clean_text: URLs, tags and control chars stripped, whitespace
    collapsed — byte-identical to the same regexes in DuckDB."""
    import pandas as pd

    from excelstream_spark.functions.text import clean_text

    rows = [
        (1, "see https://ex.com/a?b=c&d=e now"),
        (2, "<div class='x'>hello <b>world</b></div>"),
        (3, "tab\there\x00null\x07bell  end"),
        (4, "  already   clean  "),
        (5, "mixed <a href='https://x.y'>link</a> and http://z.w trailing"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r["id"]: r["c"] for r in df.select("id", clean_text(F.col("text")).alias("c")).collect()}
    assert got[1] == "see now"
    assert got[2] == "hello world"
    assert got[3] == "tab here null bell end"
    assert got[4] == "already clean"
    assert got[5] == "mixed link and trailing"

    duck.register("ct_rows", pd.DataFrame(rows, columns=["id", "text"]))
    sql = duck.execute(r"""
        SELECT id, trim(regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(text, '<[^>]*>', ' ', 'g'),
                   'https?://[^\s]+', ' ', 'g'),
                 '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', ' ', 'g'),
               '\s+', ' ', 'g')) AS c
        FROM ct_rows
    """).fetchdf()
    assert {int(r.id): r.c for r in sql.itertuples()} == got


def test_chunk_documents_property_coverage(spark):
    """Property: for arbitrary token counts, chunk boundaries tile the
    document — chunk count matches the ceil formula, every token index
    is covered, overlap is exact, n_tokens sums telescope."""
    from hypothesis import given, settings, strategies as st

    from excelstream_spark.operators.chunking import chunk_documents

    @settings(max_examples=12, deadline=None)
    @given(
        n=st.integers(min_value=1, max_value=700),
        max_tokens=st.integers(min_value=2, max_value=120),
        data=st.data(),
    )
    def check(n, max_tokens, data):
        overlap = data.draw(st.integers(min_value=0, max_value=max_tokens - 1))
        stride = max_tokens - overlap
        df = spark.createDataFrame(
            [(1, " ".join(f"t{i}" for i in range(n)))], "doc_id long, text string"
        )
        out = sorted(
            chunk_documents(df, max_tokens=max_tokens, overlap=overlap).collect(),
            key=lambda r: r["chunk_idx"],
        )
        expect_chunks = max(1, -(-(n - overlap) // stride))
        assert len(out) == expect_chunks
        covered = set()
        for r in out:
            toks = r["chunk_text"].split()
            start = r["chunk_idx"] * stride
            assert toks == [f"t{i}" for i in range(start, min(start + max_tokens, n))]
            assert r["n_tokens"] == len(toks)
            covered.update(range(start, start + len(toks)))
        assert covered == set(range(n))

    check()


def test_chunk_then_pack_composition(spark):
    """The intended pipeline bridge: chunk_documents bounds every sample
    at max_tokens, so pack_sequences downstream sees zero oversize rows
    and fills bins to the same budget."""
    from excelstream_spark.operators.chunking import chunk_documents
    from excelstream_spark.operators.packing import pack_sequences

    docs = load_table(spark, SF_DIR, "documents")
    chunks = chunk_documents(docs, max_tokens=64, overlap=8).select(
        F.concat_ws("#", "doc_id", "chunk_idx").alias("sample_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )
    packed = pack_sequences(
        chunks, id_col="sample_id", tokens_col="n_tokens", max_tokens=64
    )
    assert packed.filter(F.col("oversize")).count() == 0
    assert packed.count() == chunks.count()
    fills = (
        packed.groupBy("bin_id")
        .agg(F.sum("n_tokens").alias("fill"))
        .agg(F.max("fill").alias("mx"))
        .first()
    )
    assert fills["mx"] <= 64


def test_sample_frames_operator(spark):
    """sample_frames: every 2nd frame index per payload, reusing a
    prebuilt features plan (no second decode)."""
    from excelstream_spark.operators import multimodal as MM

    docs = load_table(spark, SF_DIR, "documents").limit(30)
    mm = MM.attach_payload(docs)
    feats = MM.extract_features(mm)
    frames = MM.sample_frames(every_n=2, features=feats)
    got = {}
    for r in frames.collect():
        got.setdefault(r["doc_id"], []).append(r["frame_idx"])
    for r in feats.collect():
        expect = list(range(0, r["n_frames"], 2))
        assert sorted(got[r["doc_id"]]) == expect
    # convenience path (no features): same result
    assert frames.count() == MM.sample_frames(mm, every_n=2).count()


def _encode_png(arr, filters):
    """Minimal stdlib PNG ENCODER for fixtures: applies the given filter
    type per scanline (exercising every unfilter branch of the decoder),
    gray (1ch) or RGB/RGBA by channel count, 8-bit, non-interlaced."""
    import struct
    import zlib

    height, width, ch = arr.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    bpp = ch

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    raw = bytearray()
    prev = bytes(width * ch)
    for y, ftype in zip(range(height), filters):
        line = arr[y].tobytes()
        raw.append(ftype)
        for i in range(len(line)):
            a = line[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            pred = {0: 0, 1: a, 2: b, 3: (a + b) >> 1, 4: paeth(a, b, c)}[
                ftype
            ]
            raw.append((line[i] - pred) & 0xFF)
        prev = line

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_stdlib_decode_real_pixels():
    """The stdlib PNG path decodes REAL images: exact dimensions,
    channel count and per-channel pixel means, across every scanline
    filter type (0/1/2/3/4)."""
    import numpy as np

    from excelstream_spark.operators.multimodal import _decode_payload

    rng = np.random.default_rng(7)
    # RGBA, 5 rows — one row per filter type
    rgba = rng.integers(0, 256, size=(5, 9, 4), dtype=np.uint8)
    png = _encode_png(rgba, filters=[0, 1, 2, 3, 4])
    d = _decode_payload(png)
    assert (d["decoder"], d["width"], d["height"], d["channels"]) == (
        "png-stdlib",
        9,
        5,
        4,
    )
    assert d["n_frames"] == 1
    want = [round(float(m), 3) for m in rgba.mean(axis=(0, 1))]
    assert d["channel_means"] == want

    # grayscale with Paeth-heavy filtering
    gray = rng.integers(0, 256, size=(7, 4, 1), dtype=np.uint8)
    d2 = _decode_payload(_encode_png(gray, filters=[4, 4, 1, 3, 2, 4, 0]))
    assert (d2["width"], d2["height"], d2["channels"]) == (4, 7, 1)
    assert d2["channel_means"] == [round(float(gray.mean()), 3)]

    # truncated PNG -> honest 'corrupt', not a crash
    bad = _decode_payload(png[:40])
    assert bad["decoder"] == "corrupt" and bad["width"] is None


def test_jpeg_header_decode_and_fake_fallback():
    """JPEG without PIL: SOF marker scan yields real dims/components,
    pixel stats honestly null.  Non-image payloads keep the
    deterministic fake (the oracled fixture path)."""
    import struct

    from excelstream_spark.operators.multimodal import _decode_payload

    # SOI + APP0(JFIF) + SOF0 (height=33, width=48, 3 components)
    app0 = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    sof0 = struct.pack(">BHHB", 8, 33, 48, 3) + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01"
    jpg = (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", len(app0) + 2) + app0
        + b"\xff\xc0" + struct.pack(">H", len(sof0) + 2) + sof0
    )
    d = _decode_payload(jpg)
    assert (d["width"], d["height"], d["channels"]) == (48, 33, 3)
    assert d["decoder"] in ("jpeg-header", "pil")
    if d["decoder"] == "jpeg-header":
        assert d["channel_means"] is None

    fake = _decode_payload(b"just some text bytes")
    n = len(b"just some text bytes")
    assert fake["decoder"] == "fake"
    assert (fake["width"], fake["height"], fake["n_frames"]) == (
        n % 640,
        (n * 7) % 480,
        1 + n % 8,
    )


def _encode_wav(samples, sample_rate: int, sampwidth: int = 2) -> bytes:
    """Build a PCM WAV with the stdlib ``wave`` module (independent
    encoder — the decoder under test never sees ``wave``)."""
    import io
    import wave

    import numpy as np

    arr = np.asarray(samples)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(arr.shape[1])
        w.setsampwidth(sampwidth)
        w.setframerate(sample_rate)
        w.writeframes(arr.tobytes())
    return buf.getvalue()


def test_wav_stdlib_decode_real_samples():
    """The stdlib WAV path decodes REAL audio: sample rate, channels,
    frame count, and per-channel mean |amplitude| on PCM16 — plus the
    corrupt fallback on a truncated payload."""
    import numpy as np

    from excelstream_spark.operators.multimodal import _decode_payload

    rng = np.random.default_rng(11)
    pcm = rng.integers(-(2**15), 2**15, size=(500, 2), dtype=np.int16)
    wav = _encode_wav(pcm, sample_rate=16000)
    d = _decode_payload(wav)
    assert d["decoder"] == "wav-stdlib"
    assert (d["sample_rate"], d["channels"], d["n_frames"]) == (16000, 2, 500)
    assert (d["width"], d["height"]) == (None, None)
    want = [
        round(float(m), 6)
        for m in np.abs(pcm.astype(np.float64) / 32768.0).mean(axis=0)
    ]
    assert d["channel_means"] == want

    # mono 8-bit unsigned PCM: midpoint-128 normalization
    pcm8 = np.array([[128], [255], [0], [192]], dtype=np.uint8)
    d8 = _decode_payload(_encode_wav(pcm8, sample_rate=8000, sampwidth=1))
    assert d8["decoder"] == "wav-stdlib"
    assert (d8["sample_rate"], d8["channels"], d8["n_frames"]) == (8000, 1, 4)
    assert d8["channel_means"] == [
        round((0 + 127 + 128 + 64) / (4 * 128.0), 6)
    ]

    # truncated mid-header -> honest 'corrupt', not a crash
    bad = _decode_payload(wav[:16])
    assert bad["decoder"] == "corrupt" and bad["n_frames"] == 0


def test_extract_features_mixed_payloads(spark):
    """End-to-end through mapInPandas with a MIXED batch: a real PNG, a
    JPEG header, a real WAV, a corrupt PNG and a text payload in one
    DataFrame — each row labeled by the decoder that produced it, real
    pixels/samples decoded."""
    import numpy as np

    from excelstream_spark.operators import multimodal as MM

    img = np.full((4, 6, 3), 200, dtype=np.uint8)
    img[:, :, 1] = 100  # distinct per-channel means
    png = _encode_png(img, filters=[0, 1, 2, 4])
    wav = _encode_wav(
        np.full((100, 1), 2**14, dtype=np.int16), sample_rate=44100
    )
    rows = [
        (1, bytearray(png), ("image/png", len(png))),
        (2, bytearray(b"\xff\xd8\xff\xc0\x00\x0b\x08\x00\x10\x00\x20\x01\x01\x11\x00"), ("image/jpeg", 15)),
        (3, bytearray(b"\x89PNG\r\n\x1a\nbroken"), ("image/png", 14)),
        (4, bytearray(b"hello world"), ("text/plain", 11)),
        (5, bytearray(wav), ("audio/wav", len(wav))),
    ]
    mm = spark.createDataFrame(
        rows,
        "doc_id long, payload binary, "
        "meta struct<content_type:string, byte_len:int>",
    )
    got = {r["doc_id"]: r for r in MM.extract_features(mm).collect()}
    assert got[1]["decoder"] == "png-stdlib"
    assert (got[1]["width"], got[1]["height"], got[1]["channels"]) == (6, 4, 3)
    assert got[1]["channel_means"] == [200.0, 100.0, 200.0]
    assert got[1]["sample_rate"] is None
    assert got[2]["decoder"] in ("jpeg-header", "pil")
    assert (got[2]["width"], got[2]["height"]) == (32, 16)
    assert got[3]["decoder"] == "corrupt" and got[3]["width"] is None
    assert got[4]["decoder"] == "fake"
    assert got[5]["decoder"] == "wav-stdlib"
    assert (got[5]["sample_rate"], got[5]["n_frames"]) == (44100, 100)
    assert got[5]["channel_means"] == [round(2**14 / 2**15, 6)]


def test_media_encoders_round_trip_and_cross_validate():
    """The production encoders (operators/multimodal.encode_png /
    encode_wav — the driver entry's payload synthesizers) must (a)
    round-trip bit-exactly through the stdlib decoders and (b) agree
    with an INDEPENDENT reader (the stdlib ``wave`` module) on the WAV
    container layout, so the entry's hash-green can't be two mirrored
    bugs in one module."""
    import io
    import wave as wavemod

    from excelstream_spark.operators.multimodal import (
        _decode_payload,
        encode_png,
        encode_wav,
    )

    for d in (0, 3, 6, 9, 33, 96):
        w = 2 + 2 * (d % 2)
        px = bytes((d * 31 + i * 7) % 256 for i in range(w * 2))
        info = _decode_payload(encode_png(w, 2, px))
        assert (info["decoder"], info["width"], info["height"], info["channels"]) == (
            "png-stdlib", w, 2, 1,
        )
        assert info["channel_means"] == [round(sum(px) / len(px), 3)]

    # RGB variant exercises the multi-channel stride path of the encoder
    rgb = bytes(range(2 * 2 * 3))
    info = _decode_payload(encode_png(2, 2, rgb, channels=3))
    assert info["channels"] == 3 and info["width"] == 2
    assert info["channel_means"] == [
        round(sum(rgb[c::3]) / 4, 3) for c in range(3)
    ]

    for d in (1, 4, 7, 31, 64):
        n = 4 + d % 5
        amp = (d % 32) * 1024
        samples = [amp if i % 2 == 0 else -amp for i in range(n)]
        payload = encode_wav(8000 + (d % 5) * 1000, samples)
        info = _decode_payload(payload)
        assert (info["decoder"], info["n_frames"], info["channels"]) == (
            "wav-stdlib", n, 1,
        )
        assert info["sample_rate"] == 8000 + (d % 5) * 1000
        assert info["channel_means"] == [round((d % 32) / 32, 6)]
        # independent container check: stdlib wave reads the same facts
        with wavemod.open(io.BytesIO(payload), "rb") as r:
            assert (r.getnchannels(), r.getsampwidth(), r.getframerate(),
                    r.getnframes()) == (1, 2, 8000 + (d % 5) * 1000, n)


def test_corrupt_payload_yields_no_frames(spark):
    """n_frames = 0 (corrupt payload) must produce ZERO sampled frames:
    Spark's sequence(0, -1) counts DOWN ([0, -1]), so an unguarded
    explode would fabricate frame_idx 0 for every corrupt doc."""
    import pandas as pd

    from excelstream_spark.operators import multimodal as MM

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "payload": [b"\x89PNG\r\n\x1a\nGARBAGE", b"ok text payload"],
            "meta": [
                {"content_type": "image/png", "byte_len": 15},
                {"content_type": "text/plain", "byte_len": 15},
            ],
        }
    )
    mm = spark.createDataFrame(
        pdf,
        schema="doc_id bigint, payload binary, "
        "meta struct<content_type: string, byte_len: int>",
    )
    feats = MM.extract_features(mm)
    rows = {r["doc_id"]: r for r in feats.collect()}
    assert rows[1]["decoder"] == "corrupt" and rows[1]["n_frames"] == 0
    sampled = MM.sample_frames(features=feats).collect()
    assert all(r["doc_id"] != 1 for r in sampled)  # no phantom frame
    assert any(r["doc_id"] == 2 for r in sampled)


def test_jpeg_header_skips_fill_bytes():
    """JPEG allows runs of 0xFF fill bytes before a marker; the header
    scanner must skip them rather than read a garbage segment length."""
    import struct

    from excelstream_spark.operators.multimodal import _decode_payload

    sof = b"\xff\xc0" + struct.pack(">HBHHB", 8, 8, 31, 47, 3)
    # SOI, APP0 with 2 fill bytes before it, fill bytes before SOF
    app0 = b"\xff\xe0" + struct.pack(">H", 4) + b"JF"
    payload = b"\xff\xd8" + b"\xff\xff" + app0 + b"\xff\xff\xff" + sof
    d = _decode_payload(payload)
    assert (d["decoder"], d["width"], d["height"], d["channels"]) == (
        "jpeg-header", 47, 31, 3,
    )


def test_synthesize_payloads_null_text_symmetry(spark):
    """A NULL text on the fake branch must encode as b'' (matching the
    oracle's coalesce(text, '')), not the string 'None'/'nan'."""
    import pandas as pd

    from excelstream_spark.operators import multimodal as MM

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [3, 5], "text": [None, None]}).astype(
            {"doc_id": "int64", "text": "object"}
        )
    )
    rows = {
        r["doc_id"]: r
        for r in MM.extract_features(MM.synthesize_payloads(docs)).collect()
    }
    assert rows[3]["byte_len"] == 0 and rows[3]["decoder"] == "fake"
    assert rows[3]["width"] == 0 and rows[3]["n_frames"] == 1
    # doc 5 takes the WAV branch (doc_id % 4 == 1) regardless of text
    assert rows[5]["decoder"] == "wav-stdlib"


def test_jpeg_real_decode_branch(spark):
    """The %4=2 branch round-trips a REAL baseline JPEG: the stdlib
    entropy decoder (PIL absent here) reports exact dimensions and the
    exact flat-gray mean; an arbitrary structured image decodes within
    DCT rounding of the source."""
    import numpy as np
    import pandas as pd

    from excelstream_spark.operators import multimodal as MM
    from excelstream_spark.operators.jpeg_baseline import (
        decode_jpeg,
        encode_jpeg_baseline,
    )

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [2, 6, 170], "text": ["a", "b", "c"]}).astype(
            {"doc_id": "int64"}
        )
    )
    rows = {
        r["doc_id"]: r
        for r in MM.extract_features(MM.synthesize_payloads(docs)).collect()
    }
    for d in (2, 6, 170):
        r = rows[d]
        assert r["decoder"] == "jpeg-stdlib", r
        assert (r["width"], r["height"], r["channels"]) == (
            8 + 8 * (d % 2), 8, 1,
        )
        assert r["channel_means"] == [float(d % 256)]

    # the codec itself: structured color content, 4:2:0 + restarts,
    # decodes within +/-1 of the source (chroma subsampling rounding)
    rng = np.random.default_rng(7)
    img = (rng.integers(0, 8, (24, 40, 3)) * 32 + 16).astype(np.uint8)
    img[:, :, 1] = img[:, :, 0]  # smooth chroma: keep 4:2:0 loss tiny
    img[:, :, 2] = img[:, :, 0]
    dec = decode_jpeg(
        encode_jpeg_baseline(img, subsampling="4:4:4", restart_interval=3)
    )
    assert dec.shape == img.shape
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 1


def test_strip_boilerplate_paragraphs_and_line_dedup(spark):
    """Cross-document boilerplate cut: paragraphs in > max_df docs are
    removed everywhere, order of survivors preserved, all-boilerplate
    docs come back empty; intra-doc dedup_lines keeps first occurrences
    in order."""
    import pandas as pd

    from excelstream_spark.functions import text as TXT
    from excelstream_spark.operators.dedup import strip_boilerplate_paragraphs

    banner = "accept our cookies"
    footer = "all rights reserved"
    docs = [
        (i, "\n\n".join([banner, f"unique body {i}", footer]), "en")
        for i in range(8)
    ] + [
        (100, "\n\n".join([banner, footer]), "en"),       # pure boilerplate
        (101, "solo content\n\nmore solo", "en"),          # untouched
    ]
    df = spark.createDataFrame(
        pd.DataFrame(docs, columns=["doc_id", "text", "lang"])
    )
    out = {
        r["doc_id"]: r["text"]
        for r in strip_boilerplate_paragraphs(df, max_df=5).collect()
    }
    assert out[3] == "unique body 3"
    assert out[100] == ""
    assert out[101] == "solo content\n\nmore solo"
    assert set(out) == {*range(8), 100, 101}  # schema/rows preserved
    # below the df threshold nothing is touched
    out2 = {
        r["doc_id"]: r["text"]
        for r in strip_boilerplate_paragraphs(df, max_df=20).collect()
    }
    assert out2[3] == "\n\n".join([banner, "unique body 3", footer])

    lines = spark.createDataFrame(
        pd.DataFrame({"t": ["a\nb\na\nc\nb", "x"]})
    ).select(TXT.dedup_lines("t").alias("d"))
    assert [r["d"] for r in lines.collect()] == ["a\nb\nc", "x"]


def test_jpeg_huffman_long_codes_and_padding():
    """Huffman codes longer than the 8-bit direct LUT (lengths 9-16)
    decode through the fallback dict path, interleaved with short codes
    and staying bit-aligned — the encoder's own fixed-length tables top
    out at 8 bits, so the r7 fast reader's slow path needs its own
    stream.  Also: reads past the end of a segment see T.81's 1-bit
    padding."""
    from excelstream_spark.operators.jpeg_baseline import (
        _BitReader,
        _build_huffman,
        _huff_decode,
        _prepare_huffman,
    )

    counts = [0] * 16
    counts[2] = 2    # two 3-bit codes (fast path)
    counts[8] = 3    # three 9-bit codes (slow path)
    counts[11] = 2   # two 12-bit codes (slow path)
    symbols = [10, 11, 20, 21, 22, 30, 31]
    table = _build_huffman(counts, symbols)
    prepared = _prepare_huffman(table)
    inv = {sym: (length, code) for (length, code), sym in table.items()}
    assert {inv[s][0] for s in symbols} == {3, 9, 12}
    seq = [10, 20, 30, 22, 11, 31, 21, 10, 30]
    bits = []
    for s in seq:
        length, code = inv[s]
        bits += [(code >> (length - 1 - i)) & 1 for i in range(length)]
    data = bytearray()
    acc, n = 0, 0
    for b in bits:
        acc, n = (acc << 1) | b, n + 1
        if n == 8:
            data.append(acc)
            acc, n = 0, 0
    if n:
        data.append((acc << (8 - n)) | ((1 << (8 - n)) - 1))  # 1-pad
    r = _BitReader(bytes(data))
    assert [_huff_decode(r, prepared) for _ in seq] == seq
    # past-end reads return 1-bits (a trailing partial code resolves)
    r2 = _BitReader(b"")
    assert r2.read_bits(5) == 0b11111
    assert r2.read_bits(0) == 0


def test_containment_catches_subset_duplicates_jaccard_misses(spark):
    """The containment rule's reason to exist: a short document fully
    quoted inside a much longer one has near-zero jaccard but
    containment 1.0."""
    from pyspark.sql import functions as F

    from excelstream_spark.operators.dedup import (
        dedup_ngram_containment,
        dedup_ngram_jaccard,
    )
    from excelstream_spark.scope import release_persists

    short = "alpha beta gamma delta epsilon zeta eta theta"
    filler = " ".join(f"tok{i}" for i in range(200))
    df = spark.createDataFrame(
        [(1, short), (2, filler + " " + short + " " + filler)],
        "doc_id bigint, text string",
    )
    release_persists()
    jac = dedup_ngram_jaccard(df, threshold=0.5).collect()
    assert jac == []  # symmetric jaccard is tiny: ~6/400
    release_persists()
    cont = dedup_ngram_containment(df, threshold=0.8).collect()
    assert len(cont) == 1
    row = cont[0]
    assert row["doc_a"] == 1 and row["cont_a"] == 1.0  # A fully inside B
    assert row["cont_b"] < 0.1
    release_persists()


def test_containment_max_shingle_df_prunes_before_set_sizes(spark):
    """r7 advice #3: with ``max_shingle_df`` set, the per-doc set sizes
    must be counted AFTER the hot-shingle prune — a subset duplicate
    whose text is dominated by corpus boilerplate must still score
    containment ~1.0 over the surviving (informative) shingle space.
    Cross-checked against the DuckDB replay of the pruned pipeline
    (the path previously had no oracle coverage)."""
    import duckdb

    from excelstream_spark.operators.dedup import (
        dedup_ngram_containment,
        dedup_ngram_jaccard,
    )
    from excelstream_spark.scope import release_persists
    from excelstream_spark.plans.oracles import (
        ngram_containment_oracle,
        ngram_jaccard_oracle,
    )

    from .conftest import assert_matches_oracle

    content = "alpha beta gamma delta epsilon zeta eta theta"
    boiler = " ".join(f"menu{i} nav{i}" for i in range(12))  # 24 tokens
    filler = " ".join(f"tok{i}" for i in range(120))
    rows = [
        (1, content + " " + boiler),            # short: content + boilerplate
        (2, filler + " " + content + " " + boiler),  # superset + boilerplate
    ] + [(10 + i, f"page{i} intro{i} words{i} here{i} " + boiler) for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    # boilerplate shingles appear in 10 docs > max_df=4 -> pruned;
    # doc 1's surviving shingles are its content (+ the doc1/doc2-only
    # junction shingles), all inside doc 2 -> containment 1.0.  With
    # the PRE-prune set sizes (the fixed bug) cont_a was ~8/37 ~ 0.22
    # and the subset duplicate was silently missed.
    release_persists()
    out = dedup_ngram_containment(df, threshold=0.8, max_shingle_df=4)
    got = {(r["doc_a"], r["doc_b"]): r["cont_a"] for r in out.collect()}
    assert (1, 2) in got and got[(1, 2)] == 1.0

    con = duckdb.connect()
    try:
        con.register("cdocs", df.toPandas())
        release_persists()
        assert_matches_oracle(
            dedup_ngram_containment(df, threshold=0.8, max_shingle_df=4),
            con,
            ngram_containment_oracle(0.8, src="cdocs", max_shingle_df=4),
        )
        release_persists()
        assert_matches_oracle(
            dedup_ngram_jaccard(df, threshold=0.2, max_shingle_df=4),
            con,
            ngram_jaccard_oracle(0.2, src="cdocs", max_shingle_df=4),
        )
    finally:
        con.close()
    release_persists()


def test_pipeline_v4_dedup_drops_every_twin(spark):
    """The v4 capstone's dedup hard signal: the pipeline injects a
    verbatim twin of every augmented document at doc_id + offset, the
    classifier scores twins identically (ties kept together), and the
    exact-dedup stage must drop every surviving twin — so the manifest
    counts each kept document ONCE, and disabling dedup would double
    every shard's n_docs (and the twin pairs would cancel in the xor
    content hash, another tell)."""
    import excelstream_spark.plans.extension  # noqa: F401 (registers)
    from excelstream_spark.plans.catalog import CATALOG

    from .conftest import SF_DIR

    man = CATALOG["training_corpus_pipeline_v4"].fn(spark, SF_DIR).collect()
    assert man  # non-empty manifest
    total = sum(r["n_docs"] for r in man)
    # the cleaned corpus (with twins) is 2x the originals; the ranked
    # keep-half cut then keeps ~half of it, and dedup halves THAT back
    # to ~half the ORIGINAL count.  Exact arithmetic: floor(2n*0.5)=n
    # kept rows, all twin-paired (ties at the threshold all kept), so
    # the manifest totals n/2 <= total <= n originals-only documents —
    # the hard bound: a surviving twin would push the manifest total
    # past the number of original documents.
    import duckdb

    con = duckdb.connect()
    try:
        for t in ("documents",):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/{t}.parquet')"
            )
        originals = con.sql(
            "SELECT count(*) FROM documents WHERE doc_id IS NOT NULL"
        ).fetchone()[0]
    finally:
        con.close()
    assert 0 < total <= originals  # twins would make total > originals


def test_dedup_keep_best_crafted_and_oracle(spark, duck):
    """dedup_keep_best (r9): the best-SCORING member of each near-dup
    cluster survives (ties by ascending id, NULL scores last), unpaired
    docs always survive.  Crafted components first, then the DuckDB
    recursive-CTE replay over the real fixture pairs."""
    from excelstream_spark.operators.components import dedup_keep_best

    docs = spark.createDataFrame(
        [
            (1, 0.2), (2, 0.9), (3, 0.9),      # cluster {1,2,3}: 2 wins
            (4, None), (5, 0.1),               # cluster {4,5}: 5 wins
            (6, None),                         # unpaired: survives
        ],
        "doc_id long, q double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id_a long, id_b long"
    )
    kept = {r["doc_id"] for r in dedup_keep_best(docs, pairs, "q").collect()}
    assert kept == {2, 5, 6}

    # fixture-scale DuckDB parity: jaccard>=0.5 pairs -> components ->
    # keep the longest doc per component (n_chars as the quality score)
    from excelstream_spark.operators import dedup as DD
    from excelstream_spark.tables import load_table

    from .conftest import SF_DIR, assert_matches_oracle

    full = load_table(spark, SF_DIR, "documents")
    pairs = DD.dedup_ngram_jaccard(full, threshold=0.5)
    kept_df = dedup_keep_best(
        full, pairs, "n_chars", id_a="doc_a", id_b="doc_b"
    ).select("doc_id")
    from excelstream_spark.plans.extension import _SQL_JACCARD_PAIRS

    assert_matches_oracle(
        kept_df,
        duck,
        f"""
        WITH RECURSIVE jp AS (
          {_SQL_JACCARD_PAIRS.strip()}
        ),
        p AS (SELECT doc_a, doc_b FROM jp WHERE jaccard >= 0.5),
        nodes AS (SELECT doc_a AS n FROM p UNION SELECT doc_b FROM p),
        edges AS (SELECT doc_a AS u, doc_b AS v FROM p
                  UNION SELECT doc_b, doc_a FROM p),
        cc(node, lbl) AS (
          SELECT n, n FROM nodes
          UNION
          SELECT e.v, cc.lbl FROM cc JOIN edges e ON e.u = cc.node
          WHERE cc.lbl < e.v
        ),
        comp AS (SELECT node AS id, min(lbl) AS component FROM cc GROUP BY node),
        ranked AS (
          SELECT c.id,
                 row_number() OVER (
                   PARTITION BY c.component
                   ORDER BY d.n_chars DESC NULLS LAST, c.id) AS rn
          FROM comp c JOIN documents d ON d.doc_id = c.id
        ),
        drop AS (SELECT id FROM ranked WHERE rn > 1)
        SELECT doc_id FROM documents
        WHERE doc_id NOT IN (SELECT id FROM drop)
           OR doc_id IS NULL
        """,
    )


def test_v5_keep_best_diverges_from_min_id(spark):
    """The v5 capstone's keep-best stage is load-bearing, not
    dedup-shaped: twins carry doc-varied scores (n_chars + doc_id%5-2),
    so SOME twins (higher ids) must out-score and replace their
    originals — the min-id representative rule provably diverges."""
    from excelstream_spark.operators import image_hash as IH
    from excelstream_spark.operators import multimodal as MM
    from excelstream_spark.operators.components import (
        dedup_keep_best,
        dedup_keep_representatives,
    )
    from excelstream_spark.plans import oracles as ORC
    from excelstream_spark.tables import load_table

    from .conftest import SF_DIR

    off = F.lit(ORC.V5_TWIN_OFFSET)
    docs = load_table(spark, SF_DIR, "documents").where(
        F.col("doc_id").isNotNull()
    )
    png = docs.where(F.col("doc_id") % 4 == 0)
    twins = png.select(
        (F.col("doc_id") + off).alias("doc_id"),
        F.concat(
            F.coalesce(F.col("text"), F.lit("")), F.lit(" rev2")
        ).alias("text"),
        (F.col("n_chars") + F.col("doc_id") % 5 - 2).alias("q"),
    )
    corpus = docs.select(
        "doc_id", "text", F.col("n_chars").alias("q")
    ).unionByName(twins)
    pay = MM.synthesize_payloads(png).select("doc_id", "payload")
    pay_all = pay.unionByName(
        pay.select((F.col("doc_id") + off).alias("doc_id"), "payload")
    )
    pairs = IH.dedup_image_ahash(
        IH.multimodal_fingerprints(pay_all),
        hash_col="fp_a",
        verify_col="fp_b",
        max_hamming=3,
        verify_max_hamming=10,
        degenerate_exact_pairs=True,
    )
    best = {
        r["doc_id"]
        for r in dedup_keep_best(
            corpus, pairs, "q", id_a="doc_a", id_b="doc_b"
        ).select("doc_id").collect()
    }
    minid = {
        r["doc_id"]
        for r in dedup_keep_representatives(
            corpus, pairs, id_a="doc_a", id_b="doc_b"
        ).select("doc_id").collect()
    }
    assert best != minid, "keep-best decided exactly like min-id"
    # at least one TWIN must have displaced its cluster's original
    assert any(d >= ORC.V5_TWIN_OFFSET for d in best - minid)
