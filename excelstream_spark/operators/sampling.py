"""Corpus composition: deterministic mixing, stratified + reservoir
sampling, and seeded global shuffle — the last mile of a training-data
pipeline (decide HOW MUCH of each source enters the run, then fix a
reproducible order).

Everything here is seeded and deterministic: the same inputs + seed give
the same corpus on any cluster size, because every random draw is a
``xxhash64(id, seed)`` column expression — codegen'd, partition-count-
independent — never ``rand()`` (whose per-partition streams change with
parallelism) and never a driver-side RNG.

Scale shape: mixing is filter + union (no shuffle); stratified exact-N
sampling shuffles once on the stratum key (window top-N per stratum);
the global shuffle is one ``repartitionByRange`` on the hash — the same
single-shuffle cost as any sort.  The reference (an I/O library,
SURVEY.md §2.6) has no analogue; this is part of the BASELINE.json
training-pipeline extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from excelstream_spark.scope import checkpoint

#: normalizer for xxhash64 -> uniform [0, 1): map the signed 64-bit hash
#: onto the unit interval
_HASH_SPAN = float(1 << 64)


def _uniform(id_col, seed: int):
    """Deterministic per-row uniform [0,1) from the id column + seed.
    Clamped below 1.0: hashes within 1024 of 2^63 round UP to exactly
    2^63 in binary64 (ULP=2048 there), which would make rate=1.0 drop
    ~5.5e-17 of rows — real at 50B-doc scale."""
    h = F.xxhash64(F.col(id_col), F.lit(seed))
    return F.least((h.cast("double") / _HASH_SPAN) + 0.5, F.lit(1.0 - 2**-53))


def _tmp_name(df: DataFrame, base: str) -> str:
    """Collision-safe internal column name."""
    name = base
    while name in df.columns:
        name += "_"
    return name


def mix_corpora(
    sources: dict[str, tuple[DataFrame, float]],
    id_col: str = "doc_id",
    seed: int = 0,
    source_col: str = "source",
) -> DataFrame:
    """Mix named sources at the given sampling RATES (0-1]: each source
    keeps ~rate of its rows, chosen deterministically by hash(id, seed),
    tagged with its source name.  Rates above 1 are rejected (repetition
    /epoch weighting is a trainer concern, not a corpus op).

    Returns union-by-name of the sources' common columns + ``source_col``
    (default ``source``; a pre-existing column of that name is rejected
    rather than silently overwritten — corpus tables often carry real
    provenance under exactly that name).
    """
    if not sources:
        raise ValueError("mix_corpora: no sources")
    parts = []
    common: list[str] | None = None
    for name, (df, rate) in sources.items():
        if not 0.0 < rate <= 1.0:
            raise ValueError(f"mix_corpora: rate for {name!r} must be in (0,1], got {rate}")
        cols = [c for c in df.columns]
        common = cols if common is None else [c for c in common if c in cols]
    assert common is not None
    if id_col not in common:
        raise ValueError(f"mix_corpora: every source needs {id_col!r}")
    if source_col in common:
        raise ValueError(
            f"mix_corpora: inputs already have a {source_col!r} column; pass "
            "a different source_col instead of overwriting provenance"
        )
    import zlib

    for name, (df, rate) in sources.items():
        # crc32, NOT Python hash(): hash(str) is salted per process
        # (PYTHONHASHSEED), which would break cross-run determinism
        src_seed = seed ^ zlib.crc32(name.encode("utf-8"))
        kept = df.select(*common).where(
            _uniform(id_col, src_seed) < F.lit(rate)
        )
        parts.append(kept.withColumn(source_col, F.lit(name)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def temperature_rates(
    counts: dict[str, int], temperature: float, target_rows: int
) -> dict[str, float]:
    """Per-source sampling rates for temperature-weighted mixing (the
    multilingual/data-mixture standard: p_s ∝ n_s^τ).  τ=1 keeps natural
    proportions; τ→0 flattens toward uniform-by-source; τ>1 sharpens
    toward the biggest sources.  Rates are capped at 1.0 (no upsampling
    — repetition/epoch weighting is a trainer concern, same contract as
    mix_corpora), so the realized total can undershoot ``target_rows``
    when a flattened small source saturates; callers wanting exactness
    re-normalize over the unsaturated remainder (what
    :func:`mix_corpora_temperature` does).

    Pure driver arithmetic over per-source COUNTS (one scalar per
    source) — the data never moves to compute the mixture.
    """
    if temperature < 0:
        raise ValueError(f"temperature must be >= 0, got {temperature}")
    if not counts:
        raise ValueError("temperature_rates: no sources")
    live = {s: c for s, c in counts.items() if c > 0}
    rates = {s: 0.0 for s in counts}
    remaining = float(target_rows)
    # iterative water-filling: sources whose share exceeds their size
    # saturate at rate 1.0 and the residual target re-spreads over the
    # rest (at most |sources| rounds)
    while live and remaining > 0:
        weights = {s: c**temperature for s, c in live.items()}
        tot = sum(weights.values())
        saturated = [
            s for s in live if remaining * weights[s] / tot >= live[s]
        ]
        if not saturated:
            for s in live:
                rates[s] = (remaining * weights[s] / tot) / live[s]
            break
        for s in saturated:
            rates[s] = 1.0
            remaining -= live[s]
            del live[s]
    return rates


def mix_corpora_temperature(
    sources: dict[str, DataFrame],
    temperature: float = 0.7,
    target_rows: int = 1_000_000,
    id_col: str = "doc_id",
    seed: int = 0,
    source_col: str = "source",
) -> DataFrame:
    """Temperature-weighted corpus mixing: counts each source (one
    scalar aggregate per source), converts them to capped p ∝ n^τ rates
    via :func:`temperature_rates`, and delegates the deterministic
    per-row keep decision to :func:`mix_corpora` — same hash family,
    same provenance tagging, same (0,1]-rate contract.

    100 TB: the counts are the only extra cost — ONE job over the
    union of all sources (a bare-parquet source costs a metadata scan,
    a filtered/derived source a real pass; either way the sources
    count in parallel inside one job, not as N sequential driver-
    blocking jobs); the mix itself stays filter + union with zero
    shuffle."""
    from functools import reduce

    if not sources:
        raise ValueError("mix_corpora_temperature: no sources")
    tagged = [
        df.select(F.lit(name).alias("_src")) for name, df in sources.items()
    ]
    counted = (
        reduce(lambda a, b: a.unionByName(b), tagged)
        .groupBy("_src")
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    )
    by_src = {r["_src"]: r["_n"] for r in counted}
    counts = {name: by_src.get(name, 0) for name in sources}
    rates = temperature_rates(counts, temperature, target_rows)
    kept = {
        name: (df, rates[name])
        for name, df in sources.items()
        if rates[name] > 0.0
    }
    if not kept:
        raise ValueError("mix_corpora_temperature: target selects no rows")
    return mix_corpora(kept, id_col=id_col, seed=seed, source_col=source_col)


def stratified_sample_exact(
    df: DataFrame,
    stratum_col: str,
    n_per_stratum: int,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """EXACTLY min(n, |stratum|) rows per stratum, deterministic: rows
    ranked by hash(id, seed) within each stratum, top-n kept.  One
    shuffle on the stratum key.  (Spark's ``sampleBy`` is probabilistic
    per-row — counts vary run to run; this is the exact-count variant
    evaluation sets need.)"""
    w = Window.partitionBy(stratum_col).orderBy(
        _uniform(id_col, seed).asc(), F.col(id_col).asc()
    )
    rk = _tmp_name(df, "_rk")
    return (
        df.withColumn(rk, F.row_number().over(w))
        .where(F.col(rk) <= n_per_stratum)
        .drop(rk)
    )


#: Above this ``n`` the single-consumer merge of TakeOrderedAndProject
#: (top-n per partition concentrated onto one consumer) stops being
#: "tiny" and reservoir_sample_exact switches to the two-pass
#: threshold plan.  1M rows x ~100 B keys ~ 100 MB merge — a sane knee.
RESERVOIR_MERGE_MAX = 1_000_000


def reservoir_sample_exact(
    df: DataFrame,
    n: int,
    id_col: str = "doc_id",
    seed: int = 0,
    merge_max: int = RESERVOIR_MERGE_MAX,
) -> DataFrame:
    """EXACTLY min(n, |df|) rows, uniform over the input, deterministic —
    the distributed equivalent of reservoir sampling: global top-n by
    hash(id, seed).

    Two physical plans behind one contract (same selected ROWS either
    way — both take the n smallest (hash, id) keys):

    * ``n <= merge_max``: orderBy + limit compiles to
      TakeOrderedAndProject (per-partition top-n, one small merge) — the
      right plan for eval-set-sized samples.
    * ``n > merge_max``: TakeOrdered's single-consumer merge would
      concentrate all n winners, so switch to TWO-PASS THRESHOLD
      sampling: (1) count the input and keep rows whose uniform hash
      falls under ``(n/total)*(1 + 5/sqrt(n))`` — a Chernoff margin that
      over-selects by <1% yet undershoots n with probability ~e^-12;
      (2) exact-trim the ~n survivors fully distributed: range-partition
      by the hash (distributed sort), collect only the PER-PARTITION
      COUNTS (numPartitions integers — the only driver traffic), keep
      every partition below the cut point whole and head-trim the
      boundary partition.  No single node ever holds more than one
      partition of the sample.
    """
    u_expr = _uniform(id_col, seed)
    if n <= merge_max:
        return df.orderBy(u_expr.asc(), F.col(id_col).asc()).limit(n)

    total = df.count()
    if n >= total:
        return df
    margin = 5.0 / (n ** 0.5)
    cutoff = min(1.0, (n / total) * (1.0 + margin))
    ucol = _tmp_name(df, "_u")
    cand = df.withColumn(ucol, u_expr).where(F.col(ucol) < cutoff)
    parts = df.sparkSession.sparkContext.defaultParallelism
    # checkpoint pins the range boundaries: repartitionByRange samples
    # them per execution, and the counts action below must see the SAME
    # partitioning the trim reads.  Freed at the scope boundary.
    srt, _ = checkpoint(
        cand.repartitionByRange(parts, F.col(ucol), F.col(id_col))
        .sortWithinPartitions(ucol, id_col)
    )
    pid = F.spark_partition_id()
    counts = sorted(
        (r["p"], r["c"])
        for r in srt.groupBy(pid.alias("p")).agg(F.count(F.lit(1)).alias("c")).collect()
    )
    if sum(c for _, c in counts) < n:
        # threshold undershot (probability ~e^-12): fall back to the
        # always-correct sort path rather than return a short sample
        return df.orderBy(u_expr.asc(), F.col(id_col).asc()).limit(n)
    cum = 0
    boundary, boundary_keep = None, 0
    whole: list[int] = []
    for p, c in counts:
        if cum + c <= n:
            whole.append(p)
            cum += c
            if cum == n:
                break
        else:
            boundary, boundary_keep = p, n - cum
            break
    keep_whole = srt.where(pid.isin(whole)) if whole else None
    out = keep_whole
    if boundary is not None and boundary_keep > 0:
        head = (
            srt.where(pid == boundary)
            .orderBy(ucol, id_col)
            .limit(boundary_keep)
        )
        out = head if out is None else out.unionByName(head)
    assert out is not None
    return out.drop(ucol)


def seeded_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: int = 0,
    num_partitions: int | None = None,
) -> DataFrame:
    """Reproducible global training order: range-partition + sort by
    hash(id, seed).  Same seed -> same order, independent of input
    partitioning or cluster size; one shuffle."""
    key = F.xxhash64(F.col(id_col), F.lit(seed))
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    shuf = _tmp_name(df, "_shuf")
    return (
        df.withColumn(shuf, key)
        .repartitionByRange(parts, F.col(shuf))
        .sortWithinPartitions(shuf, id_col)
        .drop(shuf)
    )
