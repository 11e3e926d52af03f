"""Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
SIGMOD 2003 — the MOSS local document fingerprinting algorithm) and the
fingerprint-overlap near-dup signal built on them.

The brief's "document fingerprinting (rolling hash)" item: hash every
k-token gram, slide a window of ``w`` consecutive gram hashes over the
document, and in each window SELECT the minimum hash (rightmost
position on ties); the distinct selected (hash, position) pairs are the
document's fingerprints.  The winnowing guarantee: any shared passage
of at least ``w + k - 1`` tokens yields at least one IDENTICAL
fingerprint hash in both documents, at ANY cross-document offset —
density ~2/(w+1) of the grams, so the sketch is a tunable fraction of
the shingle volume minhash moves while staying exact-match-based
(no probabilistic banding).  Alongside ``dedup_token_chunks_cdc`` this
is the second offset-invariant substring signal, at sketch (not
rewrite) granularity.

The reference (an Excel I/O library) has no analogue; this extends the
training-pipeline surface (SURVEY.md BASELINE extension).

Execution shape, 100 TB notes:

* fingerprint extraction is ONE Arrow-batched ``mapInPandas`` in the
  scan stage — zero shuffle; per doc it is a numpy
  ``sliding_window_view`` min + rightmost-argmin (the original paper's
  rolling hash is an optimization of gram hashing on 1978 hardware;
  hashing each gram directly changes nothing about the selection, and
  md5-derived hashes make every value bit-reproducible in DuckDB:
  ``('0x' || substr(md5(gram), 1, 8))::bigint`` — the curation.py
  convention);
* the pair stage is the inverted-index shape shared with
  ``dedup_ngram_jaccard``: group by the 8-byte fingerprint hash, cap
  pathological document frequency (``max_fp_df`` bounds the hottest
  posting list, the same hot-key bound as ``max_shingle_df``), emit
  co-occurring pairs, ONE groupBy on (a, b) counts shared fingerprints,
  then overlap = shared / min(|A|, |B|) via a join against the per-doc
  fingerprint counts.  Fixed-width longs shuffle, never text.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from excelstream_spark.functions import text as TXT
from excelstream_spark.scope import share


def winnow_fingerprints_py(
    text: str | None, k: int = 5, w: int = 4
) -> list[tuple[int, int]]:
    """Fingerprints of one document: distinct (pos, fp) pairs in
    position order; pos is the 0-based token index of the selected
    gram.  Pure Python/numpy — the single definition the Spark operator
    ships to workers and the tests replay directly."""
    import numpy as np

    toks = TXT.tokens_py(text)
    g = len(toks) - k + 1
    if g <= 0:
        return []
    grams = [" ".join(toks[j : j + k]) for j in range(g)]
    h = np.array(
        [int(hashlib.md5(s.encode()).hexdigest()[:8], 16) for s in grams],
        dtype=np.int64,
    )
    if g <= w:
        m = int(h.min())
        pos = int(np.flatnonzero(h == m)[-1])  # rightmost minimum
        return [(pos, m)]
    win = np.lib.stride_tricks.sliding_window_view(h, w)
    mins = win.min(axis=1)
    # rightmost index of the minimum within each window
    rev_arg = np.argmax(win[:, ::-1] == mins[:, None], axis=1)
    pos = np.arange(g - w + 1) + (w - 1 - rev_arg)
    out: list[tuple[int, int]] = []
    seen: set[tuple[int, int]] = set()
    for p, m in zip(pos.tolist(), mins.tolist()):
        key = (int(p), int(m))
        if key not in seen:
            seen.add(key)
            out.append(key)
    return out


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """(<id_col>, pos, fp) — one row per selected fingerprint (module
    docstring).  Documents with fewer than ``k`` tokens (incl.
    empty/NULL text) emit no rows.  Zero shuffle: one mapInPandas in
    the scan stage.  The id column keeps its input NAME and TYPE
    (string doc ids and non-default ``id_col`` both work — the round-6
    advisor's finding: the previous form hard-coded ``doc_id``/int64
    while the other dedup operators accept arbitrary id columns)."""
    tcol, icol = text_col, id_col
    id_type = df.schema[icol].dataType.simpleString()

    def compute(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids, poss, fps = [], [], []
            for i, t in zip(pdf[icol].tolist(), pdf[tcol].tolist()):
                for p, m in winnow_fingerprints_py(t, k, w):
                    ids.append(i)
                    poss.append(p)
                    fps.append(m)
            out = pd.DataFrame({icol: ids, "pos": poss, "fp": fps})
            # Arrow coerces the id object column to the declared input
            # type; pos/fp are always computed ints
            yield out.astype({"pos": "int32", "fp": "int64"})

    # fan_out (r14, the media-synth precedent): the Python sketch is
    # the per-row-expensive stage and a small parquet input arrives as
    # one split, serializing it on one core; no-op at scale, and
    # fan_out passes streaming frames through untouched
    from excelstream_spark.partitioning import fan_out

    return fan_out(df.select(F.col(icol), F.col(tcol))).mapInPandas(
        compute, schema=f"`{icol}` {id_type}, pos int, fp bigint"
    )


def corpus_fingerprint_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """(<id_col>, fp) — the DISTINCT-fingerprint corpus artifact the
    incremental gate joins against (materialize it like the minhash
    band index: write once, reuse for every future increment; bucket
    on ``fp`` for an exchange-free scan, the incremental.py pattern)."""
    return winnow_fingerprints(df, text_col, id_col, k, w).select(
        id_col, "fp"
    ).distinct()


def neardup_increment_winnow(
    new_docs: DataFrame,
    corpus_fps: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    threshold: float = 0.5,
    max_fp_df: int = 1000,
    broadcast_increment: bool = True,
) -> DataFrame:
    """(doc_new, doc_corpus, shared, overlap) — increment documents
    whose fingerprint overlap against the STANDING corpus meets
    ``threshold``, without ever re-fingerprinting or reshuffling the
    corpus: only the increment's documents are tokenized/winnowed, the
    corpus side is the stored :func:`corpus_fingerprint_table`
    artifact.  ``broadcast_increment=True`` streams the (small)
    increment's fingerprints map-side past the bucketed corpus scan;
    set False for duplicate-heavy bulk increments and let AQE choose
    (the incremental.py convention).  ``max_fp_df`` caps corpus-side
    posting lists (computed over the corpus artifact — cheap, and the
    increment cannot inflate it)."""
    inc_fps = share(
        winnow_fingerprints(new_docs, text_col, id_col, k, w)
        .select(F.col(id_col).alias("doc_new"), "fp")
        .distinct()
    )
    inc_sizes = inc_fps.groupBy("doc_new").agg(
        F.count(F.lit(1)).alias("n_new")
    )
    corpus = corpus_fps.select(F.col(id_col).alias("doc_corpus"), "fp")
    # set sizes are PRE-cut on both sides (matching dedup_winnowing_pairs,
    # whose per-doc window counts run before the hot anti-join): the cut
    # prunes candidate GENERATION, not the overlap denominator — a
    # post-cut corpus denominator would inflate overlaps asymmetrically
    corpus_sizes = corpus.groupBy("doc_corpus").agg(
        F.count(F.lit(1)).alias("n_corpus")
    )
    hot = (
        corpus.groupBy("fp").count()
        .filter(F.col("count") > max_fp_df)
        .select("fp")
    )
    corpus = corpus.join(F.broadcast(hot), "fp", "left_anti")
    probe = inc_fps.join(F.broadcast(hot), "fp", "left_anti")
    if broadcast_increment:
        probe = F.broadcast(probe)
    pairs = (
        corpus.join(probe, "fp")
        .groupBy("doc_new", "doc_corpus")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        pairs.join(inc_sizes, "doc_new")
        .join(corpus_sizes, "doc_corpus")
        .withColumn(
            "overlap",
            F.col("shared") / F.least(F.col("n_new"), F.col("n_corpus")),
        )
        .filter(F.col("overlap") >= threshold)
        .select(
            "doc_new", "doc_corpus", "shared",
            F.round("overlap", 6).alias("overlap"),
        )
    )


def dedup_winnowing_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    threshold: float = 0.5,
    max_fp_df: int = 1000,
) -> DataFrame:
    """(doc_a, doc_b, shared, overlap) — document pairs whose
    fingerprint-set overlap coefficient ``shared / min(|A|, |B|)``
    meets ``threshold``; doc_a < doc_b.  The MOSS similarity report
    shape: exact fingerprint matches, offset-invariant, no
    probabilistic banding.  ``max_fp_df`` drops fingerprints appearing
    in more than that many documents before pairing (universal
    boilerplate would otherwise create a quadratic posting list — the
    ``max_shingle_df`` hot-key bound)."""
    from pyspark.sql import Window as W

    fps = winnow_fingerprints(df, text_col, id_col, k, w)
    # distinct fp per doc (a fp selected at several positions counts
    # once in the set semantics) + per-doc set size via a count window;
    # persisted because BOTH sides of the inverted-index self-join read
    # it — the dedup_ngram_jaccard posting-list shape exactly
    ex = share(
        fps.select(F.col(id_col).alias("doc_id"), "fp")
        .distinct()
        .withColumn("n", F.count(F.lit(1)).over(W.partitionBy("doc_id")))
    )
    # the HOT side is the bounded one (<= distinct_fps / max_fp_df by
    # construction) — broadcast anti-join it; broadcasting the KEEP set
    # (nearly every fingerprint) would be the unbounded-broadcast class
    hot = (
        ex.groupBy("fp").count().filter(F.col("count") > max_fp_df).select("fp")
    )
    ex = ex.join(F.broadcast(hot), "fp", "left_anti")
    a = ex.select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("na"), "fp"
    ).alias("A")
    b = ex.select(
        F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"), "fp"
    ).alias("B")
    pairs = (
        a.join(
            b,
            (F.col("A.fp") == F.col("B.fp"))
            & (F.col("A.doc_a") < F.col("B.doc_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
    )
    return (
        pairs.withColumn(
            "overlap", F.col("shared") / F.least(F.col("na"), F.col("nb"))
        )
        .filter(F.col("overlap") >= threshold)
        .select(
            "doc_a", "doc_b", "shared", F.round("overlap", 6).alias("overlap")
        )
    )
