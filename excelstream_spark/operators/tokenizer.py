"""Distributed BPE tokenizer training and corpus encoding.

Implements the published byte-pair-encoding recipe for NLP (Sennrich et
al. 2016, "Neural Machine Translation of Rare Words with Subword
Units"): train on WORD FREQUENCIES, not the raw corpus — merges never
cross word boundaries, so the state the algorithm iterates on is the
distinct-word table (vocabulary-sized, orders of magnitude smaller than
the corpus), and each merge round is one small shuffle plus a ONE-ROW
collect (the arg-max pair).

100 TB design:
- ``word_counts`` is the classic word count: map-side partial
  aggregation, one shuffle keyed on the word.  Everything after runs
  on that table (~1e8 rows for a web corpus — distributed but tiny
  next to the corpus), never on the corpus again.
- Each of the ``num_merges`` rounds: adjacent-pair explode over the
  symbol arrays -> groupBy(pair) sum(cnt) -> ORDER BY LIMIT 1
  (TakeOrderedAndProject; exactly one row reaches the driver).
- Merge application is a codegen'd ``aggregate`` fold over each word's
  symbol array (greedy left-to-right non-overlapping — the published
  semantics); the words table is checkpointed (``scope.checkpoint``)
  every ``_CKPT_EVERY`` rounds to keep the lineage bounded, each
  round's blocks freed as soon as the next is materialized.
- ``bpe_encode`` applies the learned merges to the DISTINCT words only
  and joins the result back to the exploded corpus — encoding cost is
  per distinct word, not per token occurrence.

Training is iterative (each merge depends on the previous arg-max),
but the fixed-step loop IS SQL-replayable: the merge rounds unroll as
per-round CTE chains (plans/oracles.bpe_train_oracle — pair recount,
arg-max with the shared tie-break, gaps-and-islands greedy
application), the quality_classifier unrolled-GD precedent, so the
catalog entry hash-gates the full merge sequence against DuckDB (r8;
it was the lone rows-only entry through r7).  Correctness is
additionally proven against a pure-Python reference implementation of
the published algorithm (tests/test_tokenizer.py).

Caveat (documented, not load-bearing for BMP text): symbol
initialization splits on Java regex positions, i.e. UTF-16 code units
— astral-plane characters (emoji) initialize as surrogate halves.
Byte-level BPE (the GPT-2 variant) would sidestep this; out of scope.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from excelstream_spark.functions import text as TXT
from excelstream_spark.scope import checkpoint

#: localCheckpoint cadence for the iterated words table: between
#: checkpoints the lineage carries at most this many chained merge
#: folds (cheap on the vocabulary-sized table; unbounded chaining is
#: quadratic analysis cost).
_CKPT_EVERY = 8


def _chars(word: Column) -> Column:
    """Per-character symbol array.  Spark's split(limit=-1) KEEPS the
    trailing empty match of the zero-width pattern (Java split with
    limit 0 would drop it) — filter it, or the first corpus-wide merge
    is (last_char, '')."""
    return F.filter(F.split(word, "(?!^)"), lambda x: x != F.lit(""))


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt) over the shared tokenization convention."""
    return (
        df.select(
            F.explode(
                TXT.tokens(F.coalesce(F.col(text_col), F.lit("")))
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _merge_fold(syms: Column, left: str, right: str) -> Column:
    """Greedy left-to-right non-overlapping replacement of the adjacent
    symbol pair (left, right) with their concatenation — one aggregate()
    fold, equivalent to the published merge step (on [a,a,a,a] with
    merge (a,a) it yields [aa,aa], matching the reference scan)."""
    merged = left + right
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(F.lit(merged)),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 32,
    min_pair_count: int = 2,
) -> list[tuple[int, str, str, int]]:
    """Learn up to ``num_merges`` BPE merges from the corpus.  Returns
    ``[(rank, left, right, pair_count), ...]`` — inherently
    driver-sized (one row per merge).  Stops early when no adjacent
    pair reaches ``min_pair_count``.  Arg-max ties break
    deterministically by (count DESC, left ASC, right ASC) — binary
    UTF-8 order, which equals code-point order."""
    words, free = checkpoint(
        word_counts(df, text_col).select(
            "cnt", _chars(F.col("word")).alias("syms")
        )
    )
    merges: list[tuple[int, str, str, int]] = []
    since_ckpt = 0
    for rank in range(num_merges):
        pairs = words.where(F.size("syms") >= 2).select(
            "cnt",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("syms") - 2),
                    lambda i: F.struct(
                        F.get("syms", i).alias("l"),
                        F.get("syms", i + 1).alias("r"),
                    ),
                )
            ).alias("p"),
        )
        best = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.col("n").desc(), "l", "r")
            .limit(1)
            .collect()
        )
        if not best or best[0]["n"] < min_pair_count:
            break
        left, right, n = best[0]["l"], best[0]["r"], int(best[0]["n"])
        merges.append((rank, left, right, n))
        words = words.select("cnt", _merge_fold(F.col("syms"), left, right).alias("syms"))
        since_ckpt += 1
        if since_ckpt >= _CKPT_EVERY:
            new_words, new_free = checkpoint(words)
            free()
            words, free, since_ckpt = new_words, new_free, 0
    free()
    return merges


def encode_words(
    words: DataFrame, merges: list[tuple[int, str, str, int]]
) -> DataFrame:
    """Apply the learned merges (in rank order) to a (word, ...) table;
    adds ``pieces: array<string>``.  Chained folds, localCheckpointed
    every ``_CKPT_EVERY`` merges to bound the expression tree; the
    intermediate checkpoint blocks are freed eagerly and the FINAL
    plan is left lazy (standard scope-release boundary)."""
    out = words.withColumn("pieces", _chars(F.col("word")))
    free = None
    for i, (_, left, right, _n) in enumerate(sorted(merges)):
        out = out.withColumn(
            "pieces", _merge_fold(F.col("pieces"), left, right)
        )
        if (i + 1) % _CKPT_EVERY == 0:
            out, new_free = checkpoint(out)
            if free is not None:
                free()
            free = new_free
    return out


def bpe_encode_stats(
    df: DataFrame,
    merges: list[tuple[int, str, str, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, n_words, n_pieces) — per-document BPE piece counts
    under the learned merges: the budget metric pipelines filter and
    pack on.  Encodes DISTINCT words once and joins back (the word
    table is vocabulary-sized — AQE broadcasts it when small)."""
    toks = df.select(
        F.col(id_col),
        F.explode(
            TXT.tokens(F.coalesce(F.col(text_col), F.lit("")))
        ).alias("word"),
    )
    encoded = encode_words(
        toks.groupBy("word").agg(F.count(F.lit(1)).alias("_wc")), merges
    ).select("word", F.size("pieces").alias("_np"))
    per_doc = (
        toks.join(encoded, "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("_np").alias("n_pieces"),
        )
    )
    ids = df.select(id_col)
    return ids.join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_words"), F.lit(0)).cast("long").alias("n_words"),
        F.coalesce(F.col("n_pieces"), F.lit(0)).cast("long").alias("n_pieces"),
    )
