"""Bigram stupid-backoff language-model perplexity scoring.

The CCNet pipeline (Wenzek et al. 2020) ranks documents by the
perplexity of a KenLM 5-gram model trained on a clean reference corpus
and splits the pool into head/middle/tail perplexity terciles — the
single most-used quality signal in published LLM data recipes (CCNet,
LLaMA, RedPajama, FineWeb all keep some ppl-defined slice).  This
module implements the same shape with a bigram *stupid backoff* model
(Brants et al. 2007, "Large Language Models in Machine Translation"):

    S(w_i | w_{i-1}) = cnt2(w_{i-1} w_i) / cnt1(w_{i-1})   if seen
                     = 0.4 * p_uni(w_i)                     otherwise
    S(w_0)           = p_uni(w_0)
    p_uni(w)         = coalesce(cnt1(w), 0.5) / total

(the 0.5 unseen pseudo-count is the repo's ``UNSEEN_TOKEN_COUNT``
convention from ``quality.unigram_logprob_score`` — the degenerate
unigram form of this scorer).  Stupid backoff is the published
web-scale choice precisely because its scores are *counts and one
division* — no discounting constants to fit — which also makes the
whole model SQL-replayable.

Engine-portability discipline (the classifier/DSIR convention):
- Model quantities are exact integer counts; per-token scores are one
  or two IEEE double divisions of those counts — bit-identical on both
  engines when written with the same association (all formulas here are
  mirrored operator-for-operator in ``plans.oracles.lm_ppl_oracle``).
- Each token's ``-log10(S)`` is rounded to 9 decimals immediately so a
  last-ulp libm difference cannot reach the sum.
- The per-document sum is an exact DECIMAL(38,15) sum (order-
  independent), divided by the token count and rounded to 6.
- The tercile thresholds are k-th ranked VALUES of the already-rounded
  ``nll_r`` (ties all land on the same side), so the head/middle/tail
  assignment is deterministic with no row-order dependence.

100 TB design:
- Fitting is two word-counts (unigram, bigram) — partial aggregation
  does most of the work map-side; the bigram conditional table joins
  bigram counts to unigram counts ONCE at fit time (keyed on the
  context token, a plain hash join — the bigram vocabulary of a web
  corpus is far past broadcast range and nothing here assumes
  otherwise).
- Scoring explodes each document's (first-token + adjacent-pair) legs
  and joins them to the model tables keyed on the token/bigram string;
  AQE picks broadcast when a small model allows it.  One groupBy(doc)
  closes the score.
- The fitted model (two count tables + one scalar) is the reusable
  artifact — store it like the incremental fingerprint tables and
  score new data without touching the reference corpus again.
- The tercile cut funnels k rows through one TakeOrderedAndProject at
  driver-row scale; at 100 TB replace with ``approxQuantile`` exactly
  as ``classifier.select_top_quality`` documents.

The reference engine (KSD-CO/excelstream) has no LM surface; this
extends the quality family (`SURVEY.md` §6) from the unigram
self-model to the published reference-corpus form.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from excelstream_spark.functions import text as TXT
from excelstream_spark.operators.quality import UNSEEN_TOKEN_COUNT
from excelstream_spark.scope import share

#: Brants et al. 2007's published backoff multiplier.
BACKOFF_ALPHA = 0.4

_DEC = "decimal(38,15)"


@dataclass(frozen=True)
class BigramLM:
    """Fitted model: unigram counts ``uni(tok, cnt)``, bigram
    conditional scores ``bip(bg, p)`` with ``p = cnt2/cnt1(context)``,
    and the total reference token count.  All three are the reusable
    artifact (two tables + a scalar)."""

    uni: DataFrame
    bip: DataFrame
    total: float


def _tok_array(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return df.select(
        F.col(id_col),
        TXT.tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("tk"),
    )


def _pair_rows(tkn: DataFrame, id_col: str) -> DataFrame:
    """(id, bg, cur) — one row per adjacent token pair, ``bg`` the
    space-joined bigram (tokens are \\s+-split, so the join is
    unambiguous) and ``cur`` its second token."""
    pairs = F.when(
        F.size("tk") >= 2,
        F.expr(
            "transform(sequence(2, size(tk)), i -> "
            "struct(concat(tk[i-2], ' ', tk[i-1]) AS bg, tk[i-1] AS cur))"
        ),
    ).otherwise(F.array())
    return (
        tkn.select(F.col(id_col), F.explode(pairs).alias("p"))
        .select(F.col(id_col), F.col("p.bg"), F.col("p.cur"))
    )


def fit_bigram_lm(
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> BigramLM:
    """Fit unigram + bigram counts on the reference corpus (CCNet fits
    on Wikipedia; the catalog entry fits on a deterministic half-split
    of the fixture).  Two word-count aggregations + one fit-time join;
    the total is the one scalar collected."""
    tkn = _tok_array(reference, text_col, id_col)
    # persist the unigram table: it feeds the total aggregate, the
    # fit-time bip join AND every scoring join — unpersisted, each is
    # an independent physical subtree re-running the reference
    # word-count (the unigram_logprob_score precedent; scoped like
    # dedup's load-bearing persists, released at the next catalog
    # query / explicit release_persists())
    uni = share(
        tkn.select(F.explode("tk").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    bi = (
        _pair_rows(tkn, id_col)
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("cnt2"))
    )
    bip = (
        bi.withColumn("_ctx", F.substring_index("bg", " ", 1))
        .join(uni.withColumnRenamed("tok", "_ctx"), "_ctx")
        .select(
            "bg",
            (F.col("cnt2").cast("double") / F.col("cnt").cast("double")).alias(
                "p"
            ),
        )
    )
    total = uni.agg(F.coalesce(F.sum("cnt"), F.lit(0)).cast("double")).collect()[
        0
    ][0]
    return BigramLM(uni=uni, bip=bip, total=float(total))


def _p_uni(cnt: Column, total: float) -> Column:
    return (
        F.coalesce(cnt.cast("double"), F.lit(float(UNSEEN_TOKEN_COUNT)))
        / F.lit(total)
    )


def stupid_backoff_score(
    docs: DataFrame,
    lm: BigramLM,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_toks, nll_r) for every non-null-id document with ≥1
    token: mean per-token ``-log10(S)`` under the stupid-backoff model,
    rounded to 6 (per-token scores rounded to 9 first; exact decimal
    sum — see the module docstring).  Token-less documents yield no
    row (perplexity is undefined on the empty product); callers decide
    their fate (the tercile bucketing sends them to ``tail``)."""
    tkn = _tok_array(docs.where(F.col(id_col).isNotNull()), text_col, id_col)
    firsts = (
        tkn.where(F.size("tk") >= 1)
        .select(F.col(id_col), F.col("tk")[0].alias("cur"))
        .join(lm.uni.withColumnRenamed("tok", "cur"), "cur", "left")
        .select(
            F.col(id_col),
            F.round(-F.log10(_p_uni(F.col("cnt"), lm.total)), 9).alias("t"),
        )
    )
    pair_scores = (
        _pair_rows(tkn, id_col)
        .join(lm.bip, "bg", "left")
        .join(lm.uni.withColumnRenamed("tok", "cur"), "cur", "left")
        .select(
            F.col(id_col),
            F.round(
                -F.log10(
                    F.coalesce(
                        F.col("p"),
                        F.lit(BACKOFF_ALPHA) * _p_uni(F.col("cnt"), lm.total),
                    )
                ),
                9,
            ).alias("t"),
        )
    )
    return (
        firsts.unionByName(pair_scores)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.round(
                F.sum(F.col("t").cast(_DEC)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("nll_r"),
        )
    )


def ppl_tercile_buckets(
    docs: DataFrame,
    lm: BigramLM,
    text_col: str = "text",
    id_col: str = "doc_id",
    exact: bool = True,
) -> DataFrame:
    """(id, n_toks, nll_r, bucket) — the CCNet head/middle/tail split:
    rank scored documents by ``nll_r`` ascending (low = ordinary
    language) and cut at the floor(n/3)-th and floor(2n/3)-th ranked
    VALUES; ties at a threshold all take the better bucket, so the
    assignment is deterministic.  Token-less documents carry NULL
    ``nll_r`` and land in ``tail`` (CCNet discards them; keeping them
    labeled preserves row-count parity with the input).

    ``exact=True``: the k-th ranked values funnel k rows through one
    task — right up to ~10^8 rows.  ``exact=False`` is the 100 TB
    path: both thresholds come from ONE ``approxQuantile`` sketch pass
    (Greenwald–Khanna, relativeError 0.001 — bucket populations land
    within ±0.1% of n/3) with no single-task funnel; same downstream
    semantics (equivalence at fixture scale pinned in
    tests/test_lm.py)."""
    base = docs.where(F.col(id_col).isNotNull())
    scored = share(stupid_backoff_score(base, lm, text_col, id_col))
    n = scored.count()
    thresholds: list[float] = []
    if exact:
        for k in (n // 3, (2 * n) // 3):
            if k > 0:
                thresholds.append(
                    scored.orderBy(F.asc("nll_r"))
                    .limit(k)
                    .agg(F.max("nll_r"))
                    .collect()[0][0]
                )
            else:
                thresholds.append(None)
    else:
        qs = scored.where(F.col("nll_r").isNotNull()).approxQuantile(
            "nll_r", [1.0 / 3.0, 2.0 / 3.0], 0.001
        )
        thresholds = list(qs) if len(qs) == 2 else [None, None]
    t1, t2 = thresholds
    bucket = F.when(
        F.col("nll_r").isNull(), F.lit("tail")
    )
    if t1 is not None:
        bucket = bucket.when(F.col("nll_r") <= F.lit(t1), F.lit("head"))
    if t2 is not None:
        bucket = bucket.when(F.col("nll_r") <= F.lit(t2), F.lit("middle"))
    bucket = bucket.otherwise(F.lit("tail"))
    return (
        base.select(id_col)
        .join(scored, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_toks"), F.lit(0)).alias("n_toks"),
            F.col("nll_r"),
            bucket.alias("bucket"),
        )
    )
