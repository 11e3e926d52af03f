"""Seeded input generators.  Each returns plain data (a pyarrow table, a
request list); the benchmark writes it to parquet and the program under
test only ever sees those files.  The same seed gives the same inputs.

Shares (nulls, near-duplicates, PII, request kinds) are exact counts
placed at seeded positions rather than per-row coin flips, so inputs made
from different seeds carry the same amount of each kind of work and the
spread between seeds measures the system, not the dice.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

_STATUSES = np.array(["OPEN", "SHIPPED", "RETURNED", "PENDING", "HOLD"])
_REGIONS = np.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])
_WORDS = np.array(
    "spark batch part line column order small sort fast value scan hash slow "
    "group agg filter query big window row table stream merge data key join "
    "vector customer the a of and to in is for on with as by".split()
)
_LANGS = np.array(["en", "en", "zh", "es", "fr", "de"])


def _mask(rng: np.random.Generator, n: int, share: float) -> np.ndarray:
    """Exactly round(n * share) True values at seeded positions."""
    m = np.zeros(n, dtype=bool)
    m[rng.choice(n, size=int(round(n * share)), replace=False)] = True
    return m


def typed_table(seed: int, rows: int, null_share: float = 0.05) -> pa.Table:
    """The xlsx/export table: a unique ``id`` plus nine typed columns
    (long, 2-decimal and full-precision doubles, low- and high-cardinality
    strings, date, timestamp, bool), each nullable column with exactly
    ``null_share`` nulls."""
    rng = np.random.default_rng([seed, 1])
    n = rows

    def nulls():
        return _mask(rng, n, null_share)

    words = rng.integers(0, len(_WORDS), size=(n, 4))
    comment = [" ".join(_WORDS[w]) for w in words]
    # ~1% of comments carry XML-special characters the writer must escape
    for i in np.flatnonzero(_mask(rng, n, 0.01)):
        comment[i] = comment[i] + " & <" + str(i) + ">"
    return pa.table(
        {
            "id": pa.array(np.arange(n, dtype=np.int64)),
            "qty": pa.array(rng.integers(1, 50_000, n), mask=nulls()),
            "price": pa.array(np.round(rng.uniform(1, 10_000, n), 2), mask=nulls()),
            "ratio": pa.array(rng.standard_normal(n), mask=nulls()),
            "status": pa.array(_STATUSES[rng.integers(0, len(_STATUSES), n)], mask=nulls()),
            "region": pa.array(_REGIONS[rng.integers(0, len(_REGIONS), n)]),
            "comment": pa.array(comment, mask=nulls()),
            "ship_date": pa.array(
                rng.integers(8_000, 20_000, n).astype("datetime64[D]"), mask=nulls()
            ),
            "updated_at": pa.array(
                (rng.integers(10**15, 2 * 10**15, n) // 1000 * 1000).astype(
                    "datetime64[us]"
                ),
                mask=nulls(),
            ),
            "is_open": pa.array(rng.random(n) < 0.5, mask=nulls()),
        }
    )


def corpus(
    seed: int,
    docs: int,
    near_dup_share: float = 0.12,
    passage_share: float = 0.08,
    pii_share: float = 0.10,
) -> pa.Table:
    """A ``documents``-schema corpus (doc_id, text, lang, source, n_chars)
    of bag-of-words documents over a small vocabulary, with fixed shares of
    near-duplicate copies (a few words changed: minhash-LSH finds them),
    copied passages (a 40-word run of another document: CDC chunk dedup
    removes them) and inserted PII (email, IPv4 or phone)."""
    rng = np.random.default_rng([seed, 2])
    lengths = rng.integers(20, 110, size=docs)
    texts = [list(_WORDS[rng.integers(0, len(_WORDS), k)]) for k in lengths]
    order = rng.permutation(docs)
    n_dup = int(round(docs * near_dup_share))
    n_pass = int(round(docs * passage_share))
    for i in order[:n_dup]:
        src = int(rng.integers(0, docs))
        t = list(texts[src])
        for _ in range(max(1, len(t) // 40)):
            t[int(rng.integers(0, len(t)))] = str(_WORDS[rng.integers(0, len(_WORDS))])
        texts[i] = t
    for i in order[n_dup : n_dup + n_pass]:
        src = int(rng.integers(0, docs))
        run = (texts[src] * 2)[:40]
        at = int(rng.integers(0, len(texts[i]) + 1))
        texts[i] = texts[i][:at] + run + texts[i][at:]
    for i in np.flatnonzero(_mask(rng, docs, pii_share)):
        kind = int(rng.integers(0, 3))
        pii = (
            f"user{int(rng.integers(0, 10**6))}@mail{kind}.example.com",
            ".".join(str(int(x)) for x in rng.integers(1, 255, 4)),
            "+" + "".join(str(int(x)) for x in rng.integers(0, 10, 11)),
        )[kind]
        texts[i].insert(int(rng.integers(0, len(texts[i]) + 1)), pii)
    text = [" ".join(t) for t in texts]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(docs, dtype=np.int64)),
            "text": pa.array(text),
            "lang": pa.array(_LANGS[rng.integers(0, len(_LANGS), docs)]),
            "source": pa.array([f"src{i % 8}" for i in range(docs)]),
            "n_chars": pa.array([len(t) for t in text], type=pa.int64()),
        }
    )


#: aggregate request templates over the export table ``t``; only exact
#: aggregates (counts, integer sums, min/max) so the DuckDB expectation
#: matches Spark bit for bit
_AGGS = (
    "SELECT status, count(*) AS n, sum(qty) AS qty, max(price) AS max_price "
    "FROM t WHERE id BETWEEN {lo} AND {hi} GROUP BY status",
    "SELECT region, count(ship_date) AS n_dates, min(ship_date) AS first_ship, "
    "max(updated_at) AS last_update FROM t WHERE id BETWEEN {lo} AND {hi} GROUP BY region",
    "SELECT region, is_open, count(*) AS n, min(ratio) AS min_ratio "
    "FROM t WHERE id BETWEEN {lo} AND {hi} GROUP BY region, is_open",
)
_SLICE = "SELECT * FROM t WHERE id BETWEEN {lo} AND {hi}"


def request_script(seed: int, table_rows: int, cycles: int) -> list[dict]:
    """A closed-loop request script made of 16-request cycles.  Each cycle
    has two blocks of eight requests, in seeded order: one block holds a
    15k-row slice served as xlsx, the other a 10k-row slice served as csv,
    each at a seeded position among seven small grouped aggregates over a
    random id range.  One aggregate per block is served as csv; the rest
    are xlsx.  Any whole number of cycles is the same mix of work."""
    rng = np.random.default_rng([seed, 3])
    out = []
    for _ in range(cycles):
        for j in rng.permutation(2):
            size, slice_fmt = ((15_000, "xlsx"), (10_000, "csv"))[j]
            at = int(rng.integers(0, 8))
            agg_fmts = list(rng.permutation(["csv"] + ["xlsx"] * 6))
            for k in range(8):
                if k == at:
                    lo = int(rng.integers(0, table_rows - size))
                    sql = _SLICE.format(lo=lo, hi=lo + size - 1)
                    out.append({"kind": "slice", "fmt": slice_fmt, "sql": sql})
                    continue
                span = int(rng.integers(table_rows // 10, table_rows))
                lo = int(rng.integers(0, table_rows - span))
                sql = _AGGS[len(out) % len(_AGGS)].format(lo=lo, hi=lo + span - 1)
                out.append({"kind": "agg", "fmt": str(agg_fmts.pop()), "sql": sql})
    return out


def write_inputs(kind: str, seed: int, size: int, out_dir: str) -> None:
    """Write the inputs of one workload under ``out_dir``: ``typed.parquet``
    (plus ``requests.json`` for ``export``) or ``documents.parquet``."""
    import json
    import os

    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    if kind == "corpus":
        pq.write_table(corpus(seed, size), os.path.join(out_dir, "documents.parquet"))
        return
    pq.write_table(typed_table(seed, size), os.path.join(out_dir, "typed.parquet"))
    if kind == "export":
        with open(os.path.join(out_dir, "requests.json"), "w") as f:
            json.dump(request_script(seed, size, cycles=25), f)


if __name__ == "__main__":
    import sys

    write_inputs(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4])
