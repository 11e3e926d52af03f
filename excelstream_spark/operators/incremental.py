"""Incremental corpus maintenance: dedup a NEW increment (today's crawl)
against an EXISTING corpus without reshuffling the corpus.

The batch analogue of streaming/neardup.py's seeded stream: a production
training-data pipeline re-ingests continuously, and re-running full-corpus
dedup per increment is O(corpus) work for O(increment) new data.  The
operators here split the cost the right way:

* **Corpus-side artifacts are precomputable and reusable** —
  :func:`corpus_fingerprints` (exact) and :func:`corpus_band_index`
  (minhash-LSH band membership) are one-pass jobs over the corpus whose
  outputs are small relative to the text (16-byte fp / (band, bh, id)
  rows).  Materialize them once per corpus version; every increment
  reuses them.  At 100 TB, store the fingerprint artifact BUCKETED on
  ``fp`` (``.write.bucketBy(4096, 'fp').sortBy('fp').saveAsTable``) so
  the per-increment anti-join shuffles only the increment: the corpus
  side is already hash-partitioned on the join key.
* **Increment-side work is broadcast, never shuffled against the
  corpus** — the increment's band entries join the corpus band index
  with the INCREMENT as the broadcast build side, so the corpus index
  streams through map tasks; candidate verification joins tiny candidate
  id lists back to the two shingle-set tables.

Hash-family parity with operators/dedup.py (same shingle hashing, same
xxhash64 min family, same band slicing) means a corpus_band_index built
today keeps working as the batch and streaming pipelines evolve together
— it is the same artifact streaming/neardup.py's ``write_seed_batch``
derives seeds from, minus the owner reduction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from excelstream_spark.functions import text as TXT
from excelstream_spark.operators.dedup import (
    band_entries,
    minhash_signatures,
    shingle_sets,
)
from excelstream_spark.scope import share


def corpus_fingerprints(
    corpus: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(fp) — distinct md5 fingerprints of normalized text: the exact-dup
    membership artifact.  One codegen'd projection + one distinct."""
    return corpus.select(
        TXT.fingerprint(F.col(text_col)).alias("fp")
    ).distinct()


def corpus_band_index(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
) -> DataFrame:
    """(band, bh, id) — full minhash-LSH band-bucket membership of the
    corpus: the near-dup membership artifact.  Unlike
    streaming/neardup.bucket_owner_backfill this keeps EVERY member, so
    increment candidates pair with their actual near-duplicates, not
    just bucket owners."""
    sigs = minhash_signatures(corpus, text_col, id_col, k, num_hashes)
    return band_entries(sigs, bands, num_hashes // bands).select(
        "band", "bh", "id"
    )


def save_fingerprint_table(
    fps: DataFrame, table_name: str, buckets: int = 64
) -> None:
    """Materialize a :func:`corpus_fingerprints` result as a BUCKETED,
    sorted table on ``fp`` — the storage layout the module docstring's
    100 TB plan calls for: the per-increment anti-join then reads the
    corpus side pre-hash-partitioned and shuffles ONLY the increment
    (plan-shape asserted in tests/test_incremental.py).  At scale use
    ``buckets=4096``; the default keeps local tests light."""
    (
        fps.write.format("parquet")
        .bucketBy(buckets, "fp")
        .sortBy("fp")
        .mode("overwrite")
        .saveAsTable(table_name)
    )


def save_band_index_table(
    index: DataFrame, table_name: str, buckets: int = 64
) -> None:
    """Materialize a :func:`corpus_band_index` result bucketed + sorted
    on ``(band, bh)`` — the layout for increments too large to
    broadcast (DEPLOYMENT.md's ~5 GB/day arithmetic): the candidate
    join then shuffles only the increment's band entries to the index's
    bucket layout.  At scale use ``buckets=4096``."""
    (
        index.write.format("parquet")
        .bucketBy(buckets, "band", "bh")
        .sortBy("band", "bh")
        .mode("overwrite")
        .saveAsTable(table_name)
    )


def dedup_increment_exact(
    new_docs: DataFrame,
    corpus_fps: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """New documents whose normalized-text fingerprint does NOT exist in
    the corpus — a LEFT ANTI join on ``fp``.

    100 TB: the anti-join hashes both sides on ``fp``; with the corpus
    fingerprint artifact stored bucketed on ``fp`` (module docstring)
    only the increment moves.  Within-increment duplicates are a
    separate concern — compose with operators/dedup.dedup_exact."""
    return (
        new_docs.withColumn("fp", TXT.fingerprint(F.col(text_col)))
        .join(corpus_fps, "fp", "left_anti")
        .drop("fp")
    )


def neardup_increment_pairs(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.8,
    band_index: DataFrame | None = None,
    broadcast_increment: bool = True,
) -> DataFrame:
    """(doc_new, doc_corpus, jaccard) — exact-verified near-dup pairs
    BETWEEN the increment and the corpus (within-increment pairs are
    operators/dedup.dedup_minhash_lsh's job).

    Pass a precomputed ``band_index`` (:func:`corpus_band_index`) to
    skip re-minhashing the corpus — the intended steady-state call.

    Plan shape, corpus-shuffle-free: the increment's band entries are
    the BROADCAST side of the candidate join (the corpus index streams
    map-side); candidate id pairs are then joined to the two shingle-set
    tables for exact Jaccard.  In the stored-index steady state, only
    CANDIDATE corpus documents are ever shingled: the candidate ids
    semi-join (broadcast) into the corpus before the shingle
    explode/window work, so per-increment corpus cost is one text scan
    plus shingling of the candidates — not a re-shingle of the corpus.

    ``broadcast_increment=False`` is the BIG-increment path: the band
    entries exceed the broadcast ceiling (~5 GB for a 10 M-doc day), so
    the candidate join runs as a plain hash join instead — store the
    index via :func:`save_band_index_table` and only the increment's
    entries move (the bucketed index scan is exchange-free,
    plan-asserted in tests)."""
    rows_per_band = num_hashes // bands
    if band_index is None:
        # ONE corpus signature plan feeds both the fallback band index
        # and the verify join — persisting the same shingle subtree
        # twice would waste memory and spam "already cached" warnings
        corpus_sigs = share(
            minhash_signatures(corpus_docs, text_col, id_col, k, num_hashes)
        )
        band_index = band_entries(corpus_sigs, bands, rows_per_band).select(
            "band", "bh", "id"
        )
        corpus_sets = corpus_sigs.select("id", "sh")
        stored_index = False
    else:
        corpus_sets = None  # built below, from candidate docs only
        stored_index = True
    new_sigs = share(
        minhash_signatures(new_docs, text_col, id_col, k, num_hashes)
    )
    new_entries = band_entries(new_sigs, bands, rows_per_band)

    inc_entries = new_entries.withColumnRenamed("id", "doc_new")
    if broadcast_increment:
        inc_entries = F.broadcast(inc_entries)
    candidates = (
        band_index.join(inc_entries, ["band", "bh"])
        .select(F.col("doc_new"), F.col("id").alias("doc_corpus"))
        .distinct()
    )
    if stored_index:
        # stored-index steady state: shingle ONLY the candidate corpus
        # documents — the candidate-id set is per-increment-small, so a
        # broadcast semi-join restricts the expensive shingle explode/
        # window work to candidates instead of re-processing the whole
        # corpus text (the point of storing the index).  candidates is
        # persisted: its subtree feeds both this semi-join and the
        # verify join below.
        candidates = share(candidates)
        cand_ids = candidates.select(
            F.col("doc_corpus").alias(id_col)
        ).distinct()
        # the candidate-id set scales with the INCREMENT (a dup-heavy
        # big increment can yield tens of millions of distinct corpus
        # candidates), so the broadcast hint mirrors inc_entries: forced
        # only in the small-increment regime; in the big-increment
        # regime (broadcast_increment=False) AQE chooses — forcing it
        # there would blow the broadcast ceiling at exactly the design
        # point the flag targets
        if broadcast_increment:
            cand_ids = F.broadcast(cand_ids)
        corpus_sets = shingle_sets(
            corpus_docs.join(cand_ids, id_col, "left_semi"),
            text_col, id_col, k,
        ).select("id", "sh")
    sa = new_sigs.select(F.col("id").alias("doc_new"), F.col("sh").alias("sh_a"))
    sb = corpus_sets.select(
        F.col("id").alias("doc_corpus"), F.col("sh").alias("sh_b")
    )
    joined = candidates.join(sa, "doc_new").join(sb, "doc_corpus")
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        joined.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_new", "doc_corpus", "jaccard")
    )


def dedup_increment(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.8,
    corpus_fps: DataFrame | None = None,
    band_index: DataFrame | None = None,
    broadcast_increment: bool = True,
) -> DataFrame:
    """The composed increment gate: new documents that are neither exact
    duplicates of the corpus (fingerprint anti-join) nor near-duplicates
    of it (verified LSH pairs at ``threshold``).  Both corpus artifacts
    accept precomputed inputs for steady-state reuse;
    ``broadcast_increment=False`` selects the big-increment candidate
    join (see :func:`neardup_increment_pairs`)."""
    if corpus_fps is None:
        corpus_fps = corpus_fingerprints(corpus_docs, text_col, id_col)
    exact_new = dedup_increment_exact(new_docs, corpus_fps, text_col)
    near = neardup_increment_pairs(
        exact_new, corpus_docs, text_col, id_col, k, num_hashes, bands,
        threshold, band_index=band_index,
        broadcast_increment=broadcast_increment,
    )
    return exact_new.join(
        near.select(F.col("doc_new").alias(id_col)).distinct(),
        id_col,
        "left_anti",
    )
