"""Rule-based document quality filtering (the Gopher rules).

The published heuristic rule set from Gopher (Rae et al. 2021 §A1.1) as
a first-class pipeline operator: word-count bounds, mean-word-length
bounds, symbol-to-word ratio, bullet/ellipsis line fractions,
alphabetic-word fraction, and a minimum stop-word presence.  This is the
coarse pre-filter a training pipeline runs BEFORE the expensive dedup
stages — it drops machine-generated and boilerplate-heavy documents at
scan speed so downstream shuffles see less data.

The reference engine has no analogue (it stops at I/O + row
transforms); this extends the training-pipeline surface alongside
operators/dedup.py and operators/curation.py.

100 TB: every metric and every rule is a JVM-side expression over the
text column (functions/text.py:gopher_metrics) — zero shuffle, zero
Python, the filter runs inside the scan stage (verified: 0 exchanges,
no Python eval in the physical plan) and composes with parquet
predicate pushdown on any structured columns.  The line/token-fraction
metrics use higher-order array functions, which Spark evaluates
interpreted (not whole-stage-codegen) — still executor-local scan
work, just not fused; the regex counts and bounds are codegen'd.  The
identical arithmetic runs in DuckDB for the pytest oracle.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from excelstream_spark.functions import text as TXT
from excelstream_spark.scope import share


def gopher_quality_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the Gopher metric columns plus per-rule booleans and the
    composed ``gopher_pass`` flag — the auditable form (keep the flags,
    filter downstream, measure per-rule rejection rates)."""
    m = TXT.gopher_metrics(F.col(text_col))
    out = df
    for name, col in m.items():
        out = out.withColumn(name, col)
    for name, lo, hi in TXT.GOPHER_RULES:
        flag = F.lit(True)
        if lo is not None:
            flag = flag & (F.col(name) >= F.lit(lo))
        if hi is not None:
            flag = flag & (F.col(name) <= F.lit(hi))
        out = out.withColumn(f"pass_{name}", flag)
    return out.withColumn(
        "gopher_pass",
        reduce(and_, [F.col(f"pass_{name}") for name, _, _ in TXT.GOPHER_RULES]),
    )


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII pass for a training corpus: ``text_col`` rewritten with
    every email/IPv4/international-phone match replaced by its type
    token, plus ``n_emails``/``n_ips``/``n_phones`` audit counts.
    Counts follow the SEQUENTIAL contract of functions/text.py
    pii_counts — each count equals the number of replacement tokens
    this pass writes (a phone-shaped run inside an email local-part is
    consumed by the email replacement and counts as nothing).
    Chained codegen'd regexes
    (functions/text.py PII_REPLACEMENTS — the same patterns the
    corpus_governance catalog entry's oracle embeds), zero shuffle,
    idempotent.  This is redaction, not detection-grade PII discovery:
    the pattern set is the deterministic SQL-checkable core; plug a
    model-based detector upstream when recall beyond regexes is
    required."""
    out = df
    for name, col in TXT.pii_counts(F.col(text_col)).items():
        out = out.withColumn(name, col)
    return out.withColumn(text_col, TXT.redact_pii(F.col(text_col)))


def unigram_vocab(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(tok, cnt) — corpus unigram counts over the normalized whitespace
    tokens.  One explode + one groupBy(token); the precomputable,
    reusable artifact (store it per corpus version, like
    operators/incremental.py's fingerprint/band artifacts)."""
    toks = df.select(
        F.explode(
            TXT.tokens(F.coalesce(F.col(text_col), F.lit("")))
        ).alias("tok")
    )
    return toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))


#: pseudo-count for tokens absent from an externally-supplied vocab
#: (never hit when the vocab is derived from the scored corpus itself)
UNSEEN_TOKEN_COUNT = 0.5


def unigram_logprob_score(
    df: DataFrame,
    vocab: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style quality proxy: mean per-token surprisal under the
    corpus's own unigram distribution —
    ``nll = avg(-log10(cnt(tok) / total))`` per document.  CCNet ranks
    documents by KenLM 5-gram perplexity and keeps the low-perplexity
    head; with no external LM in scope, the unigram self-model is the
    honest stand-in: same shape (low = ordinary language, high = rare-
    token soup), exact corpus statistics, SQL-replayable.  Pass a
    precomputed/stored ``vocab`` for steady-state reuse; unseen tokens
    (external vocab only) get a pseudo-count of ``UNSEEN_TOKEN_COUNT``.

    Returns (id_col, n_toks, nll_r) with nll rounded to 6 decimals
    (engine log10/summation-order ulps).

    100 TB: one explode + token-keyed join (the vocab side is ~millions
    of rows — broadcastable; otherwise a plain hash join keyed on the
    token) + one groupBy(doc).  The vocab build itself is the classic
    word-count — partial aggregation does most of the work map-side.
    """
    if vocab is None:
        # persist the built vocab: it feeds BOTH the total aggregate and
        # the token join, and unpersisted those are two independent
        # physical subtrees — the word-count stage (the dominant cost)
        # would run twice over the corpus.  Scoped like dedup's
        # load-bearing persists (released at the next catalog query /
        # explicit release_persists()).
        vocab = share(unigram_vocab(df, text_col))
    total = vocab.agg(F.sum("cnt").cast("double").alias("_total"))
    ex = df.select(
        F.col(id_col),
        F.explode(
            TXT.tokens(F.coalesce(F.col(text_col), F.lit("")))
        ).alias("tok"),
    )
    joined = (
        ex.join(vocab, "tok", "left")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "_nll",
            -F.log10(
                F.coalesce(F.col("cnt").cast("double"), F.lit(UNSEEN_TOKEN_COUNT))
                / F.col("_total")
            ),
        )
    )
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_toks"),
        F.round(F.avg("_nll"), 6).alias("nll_r"),
    )


def repetition_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the Gopher repetition metrics (duplicate line/paragraph
    fractions and character fractions) plus per-rule booleans and the
    composed ``repetition_pass`` flag.  Same audit-vs-filter split as
    the quality rules; same zero-shuffle scan-stage execution (the
    duplicate-character counter is one O(L log L) array aggregate per
    document — see functions/text.py:_dup_char_count)."""
    m = TXT.repetition_metrics(F.col(text_col))
    out = df
    for name, col in m.items():
        out = out.withColumn(name, col)
    for name, bound in TXT.REPETITION_RULES:
        out = out.withColumn(
            f"pass_{name}", F.coalesce(F.col(name) <= F.lit(bound), F.lit(False))
        )
    # compose from the flag COLUMNS just built (re-deriving via
    # TXT.repetition_pass would run the O(L log L) dup-char aggregates a
    # second time per row, and could silently diverge from the per-rule
    # flags if the rule table ever changes)
    return out.withColumn(
        "repetition_pass",
        reduce(and_, [F.col(f"pass_{name}") for name, _ in TXT.REPETITION_RULES]),
    )


def repetition_filter(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep only documents within every Gopher repetition bound; schema
    unchanged.  Composes with gopher_quality_filter for the full
    pre-dedup gate."""
    return df.filter(TXT.repetition_pass(F.col(text_col)))


def ngram_repetition_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the Gopher N-GRAM repetition metrics (top-2/3/4-gram char
    fractions, duplicated-5..10-gram token-coverage fractions — see
    functions/text.ngram_repetition_metrics_py for the semantics, the
    one documented deviation, and why this family is Arrow-batched
    Python rather than Column expressions) plus per-rule booleans and
    the composed ``ngram_repetition_pass`` flag.  Same audit-vs-filter
    split as the line/paragraph rules; execution is one mapInPandas in
    the scan stage — zero shuffle, vectorized batches, never
    row-at-a-time UDFs."""
    import pandas as pd
    from pyspark.sql import types as T

    metric_names = [name for name, _ in TXT.NGRAM_REPETITION_RULES]
    bounds = dict(TXT.NGRAM_REPETITION_RULES)
    schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(n, T.DoubleType()) for n in metric_names]
        + [T.StructField(f"pass_{n}", T.BooleanType()) for n in metric_names]
        + [T.StructField("ngram_repetition_pass", T.BooleanType())]
    )
    tcol = text_col

    def compute(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = [
                TXT.ngram_repetition_metrics_py(t)
                for t in pdf[tcol].tolist()
            ]
            out = pdf.copy()
            composed = pd.Series(True, index=pdf.index)
            for n in metric_names:
                vals = pd.Series([r[n] for r in rows], index=pdf.index)
                flag = vals <= bounds[n]
                out[n] = vals
                out[f"pass_{n}"] = flag
                composed &= flag
            out["ngram_repetition_pass"] = composed
            yield out

    return df.mapInPandas(compute, schema=schema)


def ngram_repetition_filter(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep only documents within every Gopher n-gram repetition bound;
    schema unchanged.  ``repetition_filter`` then this is the COMPLETE
    published Gopher repetition gate (:func:`full_repetition_filter`)."""
    flagged = ngram_repetition_flags(df, text_col)
    return flagged.filter(F.col("ngram_repetition_pass")).select(*df.columns)


def full_repetition_filter(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The COMPLETE published Gopher repetition gate: line/paragraph
    rules then the n-gram rules; schema unchanged.  The cheap codegen'd
    line/paragraph predicate runs FIRST so the Arrow-batched n-gram
    pass only prices the survivors."""
    return ngram_repetition_filter(
        repetition_filter(df, text_col), text_col
    )


def gopher_quality_filter(
    df: DataFrame, text_col: str = "text", rules=TXT.GOPHER_RULES
) -> DataFrame:
    """Keep only documents passing every rule (default: the full Gopher
    set); schema unchanged.  The single-predicate form — one codegen'd
    filter in the scan stage."""
    return df.filter(TXT.gopher_pass(F.col(text_col), rules))


# --------------------------------------------------------------------------
# Benchmark decontamination (round 7)
# --------------------------------------------------------------------------

def contamination_flags(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
    n: int = 13,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Append ``n_contaminated_grams`` (distinct n-token grams of the
    document that also appear anywhere in ``benchmark``) and the
    ``contaminated`` flag — the GPT-3/PaLM-style eval-set
    decontamination signal (Brown et al. 2020 appendix C use 13-gram
    overlap; a training document sharing even one 13-gram with a
    benchmark likely contains the benchmark item verbatim).  Documents
    shorter than ``n`` tokens have no grams and are never flagged.

    Tokenization is the shared convention (functions/text.tokens);
    grams join on a 60-bit md5-derived hash
    (``conv(substr(md5(gram), 1, 15), 16, 10)``) — engine-portable
    (DuckDB replays it bit-identically), collision odds ~1e-9 even at
    billions of distinct grams, and fixed-width longs join instead of
    13-token strings.

    100 TB shape: the benchmark side is DISTINCT gram hashes of the
    eval corpus — tiny (a full eval suite is ~1e6-1e7 grams) and
    broadcast by default, so the training corpus NEVER shuffles: gram
    explode + hash + broadcast join + one partial-aggregated
    groupBy(doc) count; only (doc_id, count) pairs move.  The final
    audit join back onto ``df`` keys on the hit set — one (id, count)
    row per CONTAMINATED doc, normally tiny and AQE-broadcast; the
    anti-join in :func:`decontaminate` has the same shape.  Set
    ``broadcast_benchmark=False`` for pathological benchmark sizes and
    the join runs as a plain hash join (AQE decides)."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    bt = F.coalesce(F.col(bench_text_col or text_col), F.lit(""))
    bench_grams = (
        benchmark.select(bt.alias("_t"))
        .select(TXT.tokens(F.col("_t")).alias("_tk"))
        .select(
            F.explode(TXT.shingles_from_tokens(F.col("_tk"), n)).alias("_g")
        )
        .select(
            F.conv(F.substring(F.md5("_g"), 1, 15), 16, 10)
            .cast("bigint")
            .alias("gh")
        )
        .distinct()
    )
    if broadcast_benchmark:
        bench_grams = F.broadcast(bench_grams)
    doc_grams = (
        df.select(F.col(id_col), t.alias("_t"))
        .select(id_col, TXT.tokens(F.col("_t")).alias("_tk"))
        .select(
            id_col,
            F.explode(
                F.array_distinct(TXT.shingles_from_tokens(F.col("_tk"), n))
            ).alias("_g"),
        )
        .select(
            id_col,
            F.conv(F.substring(F.md5("_g"), 1, 15), 16, 10)
            .cast("bigint")
            .alias("gh"),
        )
    )
    hits = (
        doc_grams.join(bench_grams, "gh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_contaminated_grams"))
    )
    return (
        df.join(hits, id_col, "left")
        .withColumn(
            "n_contaminated_grams",
            F.coalesce("n_contaminated_grams", F.lit(0).cast("long")),
        )
        .withColumn("contaminated", F.col("n_contaminated_grams") > 0)
    )


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
    n: int = 13,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Drop every training document sharing >= 1 n-token gram with the
    benchmark; schema unchanged.  The filter form of
    :func:`contamination_flags` (same plan, anti-join instead of the
    audit columns)."""
    flagged = contamination_flags(
        df, benchmark, text_col, id_col, bench_text_col, n,
        broadcast_benchmark,
    )
    return flagged.filter(~F.col("contaminated")).select(*df.columns)


# --------------------------------------------------------------------------
# C4 line-level cleaning (round 7)
# --------------------------------------------------------------------------


def c4_quality_flags(
    df: DataFrame, text_col: str = "text", badwords: tuple[str, ...] = ()
) -> DataFrame:
    """Append the C4 cleaning metrics (Raffel et al. 2020 §2.2) — the
    audit form: ``n_lines`` / ``n_kept_lines`` (per-line terminal-
    punctuation + >= 5 words + policy-phrase filter), ``c4_text`` (the
    retained lines), ``n_sentences`` (terminal marks in the retained
    text — the deterministic splitter stand-in), the page-drop triggers
    (``has_lorem_ipsum`` / ``has_curly_brace``), and the composed
    ``c4_pass``.  The original ``text_col`` is left untouched so the
    flags stay auditable against the input.

    ``badwords`` plugs in the token blocklist (C4 uses the published
    "bad words" list — external by design; empty default = vacuous).

    100 TB: every metric is a JVM array/regexp expression over the text
    column — zero shuffle, zero Python; the line filter runs inside the
    scan stage exactly like the Gopher rules (the higher-order
    F.filter is interpreted but executor-local, the quality.py
    precedent)."""
    m = TXT.c4_metrics(F.col(text_col), badwords)
    out = df
    for name, col in m.items():
        out = out.withColumn(name, col)
    return out


def c4_clean(
    df: DataFrame, text_col: str = "text", badwords: tuple[str, ...] = ()
) -> DataFrame:
    """The pipeline form of :func:`c4_quality_flags`: keep only pages
    passing the C4 page rules, with ``text_col`` REWRITTEN to the
    retained lines; schema unchanged.  Composes in front of the dedup
    stages the way C4 itself ran (clean first, dedup the survivors)."""
    m = TXT.c4_metrics(F.col(text_col), badwords)
    return (
        df.withColumn("_c4_pass", m["c4_pass"])
        .withColumn("_c4_text", m["c4_text"])
        .filter(F.col("_c4_pass"))
        .withColumn(text_col, F.col("_c4_text"))
        .drop("_c4_pass", "_c4_text")
    )
