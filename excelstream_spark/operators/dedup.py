"""Deduplication operators for large text corpora.

Five strategies, each a pure DataFrame composition (no Python in the hot
path) with its shuffle profile documented:

==================  ========================================  =============
strategy            mechanism                                 shuffles
==================  ========================================  =============
exact               fingerprint -> min-id per group           1 (groupBy fp)
ngram_jaccard       shingle inverted index -> pair counting   2 (explode join,
                                                              pair groupBy)
minhash_lsh         minhash sigs -> band buckets -> verify    2 (band join,
                                                              verify join)
simhash             64-bit sign signature -> band candidates  1-2
embedding_cosine    exact pairwise above threshold            1 (self join)
==================  ========================================  =============

At 100 TB the minhash-LSH path is the production one: signature
computation is embarrassingly parallel, band bucketing shuffles only
(doc_id, band_hash) pairs, and exact verification touches only candidate
pairs (a tiny fraction of n^2).  The inverted-index jaccard path is kept
both as the verification oracle shape and for medium corpora; its
``max_shingle_df`` knob drops ultra-common shingles, which is what stops
hot-key blowup on web-scale data.

Reference parity note: the reference library has NO dedup operators (it is
an I/O library; SURVEY.md §2.6) — these implement the BASELINE.json
north-star extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from excelstream_spark.functions import text as TXT
from excelstream_spark.functions import vectors as VEC
from excelstream_spark.operators import vectorized as VZ
from excelstream_spark.partitioning import fan_out
from excelstream_spark.scope import release_persists, share  # noqa: F401


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one representative (min id) per exact-normalized-text group.

    Fingerprint first (md5 of normalized text) so the shuffle key is a
    32-byte hash, not the document body — at 100 TB the shuffle moves
    ids + hashes only, never full texts.
    """
    fp = df.select(F.col(id_col), TXT.fingerprint(F.col(text_col)).alias("fp"))
    w = W.partitionBy("fp").orderBy(id_col)
    return (
        fp.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, "fp")
    )


def shingle_sets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """(id, sh: array<bigint>, n: int) — distinct hashed-k-shingle set
    per doc.  Documents with no shingles (fewer than k tokens) are
    dropped.
    Execution shape (every alternative measured at sf0.1):

    * the short-doc filter is expressed on the CHEAP token count and
      pushes to the scan (a filter on the shingle array itself gets
      pushed below the repartition and re-evaluates the whole unshared
      shingle expression single-threaded);
    * shingles come from ``posexplode(tokens)`` + ``lead()`` windows —
      every expression codegen'd; 2.2x faster than the higher-order
      ``transform`` formulation, whose lambda is interpreted per element
      (see functions/text.py:shingles_from_tokens, kept for expression-
      level use);
    * ``distinct`` on the exploded (id, shingle) rows = array_distinct;
      the array shape is rebuilt only at the end for consumers that
      need it (set intersection in LSH verification).

    ``size(tokens) >= k`` guarantees >= 1 shingle, so no post-filter is
    needed."""
    rows = shingle_rows(df, text_col, id_col, k)
    return (
        rows.groupBy("id")
        .agg(F.collect_list("s").alias("sh"))
        .withColumn("n", F.size("sh"))
    )


def shingle_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Distinct (id, s: bigint) shingle ROWS, s = xxhash64 of the k-token
    shingle — the pre-array form most consumers actually want (they
    explode the array right back).  See shingle_sets for the plan-shape
    rationale and the inline comment for why hashing precedes the
    distinct shuffle."""
    df = fan_out(df.filter(F.size(TXT.tokens(F.col(text_col))) >= k))
    ex = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(TXT.tokens(F.col(text_col))).alias("pos", "tok"),
    )
    w = W.partitionBy("id").orderBy("pos")
    leads = [F.lead("tok", j).over(w).alias(f"_t{j}") for j in range(1, k)]
    return (
        ex.select("id", "tok", *leads)
        .filter(F.col(f"_t{k - 1}").isNotNull())
        # hash the shingle to int64 BEFORE the distinct shuffle: the
        # posting-list exchange then moves (id, 8-byte hash) instead of
        # (id, ~20-40 byte string) — ~2-3x less shuffle volume, and every
        # downstream join/groupBy keys on a fixed-width long.  Jaccard on
        # hashed shingle sets equals Jaccard on the strings up to xxhash64
        # collisions (P ~ n_pairs x 2^-64 — negligible at any corpus size
        # where exact pairwise verify is feasible at all).
        .select(
            "id",
            F.xxhash64(
                F.concat_ws(" ", "tok", *[f"_t{j}" for j in range(1, k)])
            ).alias("s"),
        )
        .distinct()
    )


def dedup_ngram_jaccard(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact pairwise Jaccard over k-shingle sets via an inverted index.

    Only documents sharing >= 1 shingle are ever paired (the inverted-index
    join), so the complexity is sum over shingles of df(s)^2 — bounded by
    ``max_shingle_df`` when set (drop shingles appearing in more than that
    many docs; at web scale boilerplate shingles would otherwise create
    quadratic hot keys).

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b,
    jaccard = |A∩B| / |A∪B| >= threshold.
    """
    rows = shingle_rows(df, text_col, id_col, k)
    if max_shingle_df is not None:
        # anti-join the HOT set (bounded: <= distinct_shingles /
        # max_shingle_df rows by construction) rather than semi-joining
        # the keep set — broadcasting "everything except the hot keys"
        # is the unbounded-broadcast class the round-5 advisor flagged
        # in the incremental path.  The prune runs BEFORE the per-doc
        # set-size window (r7 advice #3): `inter` only counts surviving
        # shingles, so na/nb must count the same space or jaccard is
        # systematically underestimated for boilerplate-heavy docs —
        # under pruning both numerator and denominators are over the
        # SURVIVING (informative) shingle space.
        base = share(rows)
        hot = (
            base.groupBy("s").count()
            .filter(F.col("count") > max_shingle_df)
            .select("s")
        )
        rows = base.join(F.broadcast(hot), "s", "left_anti")
    # per-doc set size via a count window (no join against a second scan
    # of the shingle pipeline); persisted because BOTH sides of the
    # inverted-index self-join read it — at 100 TB the equivalent is
    # materializing the posting list to storage once.
    ex = share(
        rows.withColumn("n", F.count(F.lit(1)).over(W.partitionBy("id")))
    )
    # explicit DataFrame aliases: both sides of the self-join descend from
    # the same persisted plan, and attribute-based conditions (a.s == b.s)
    # resolve to the same expression id — correct, but Spark logs a
    # "trivially true predicate" warning per run; alias-qualified columns
    # resolve unambiguously and silence it
    a = ex.select(F.col("id").alias("doc_a"), F.col("n").alias("na"), "s").alias("A")
    b = ex.select(F.col("id").alias("doc_b"), F.col("n").alias("nb"), "s").alias("B")
    pairs = (
        a.join(
            b,
            (F.col("A.s") == F.col("B.s"))
            & (F.col("A.doc_a") < F.col("B.doc_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        pairs.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def dedup_ngram_containment(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """ASYMMETRIC shingle containment pairs: ``cont_a = |A∩B| / |A|``
    (the fraction of A's shingles inside B) and ``cont_b`` likewise;
    pairs kept where ``greatest(cont_a, cont_b) >= threshold``.

    The subset-duplicate detector Jaccard structurally misses: a short
    article fully quoted inside a long page has jaccard ~ |A|/|B|
    (arbitrarily low) but containment 1.0 — the news-dedup rule the C4
    / RealNews pipelines applied.  Same inverted-index plan as
    :func:`dedup_ngram_jaccard` (only the closing arithmetic differs),
    same ``max_shingle_df`` hot-key bound, and the containment RATIO on
    int64-hashed shingles equals the ratio on the strings (the
    shingle_rows collision argument), so the DuckDB oracle replays on
    raw shingle strings."""
    rows = shingle_rows(df, text_col, id_col, k)
    if max_shingle_df is not None:
        # prune BEFORE the set-size window (r7 advice #3): with na/nb
        # counted over ALL shingles but `inter` over surviving ones,
        # containment was a one-sided underestimate for documents
        # dominated by boilerplate shingles — exactly the subset
        # duplicates this operator exists to catch.  Pruning first
        # makes cont_a the containment over the SURVIVING (informative)
        # shingle space: |A'∩B'| / |A'| with A' = A minus hot shingles.
        base = share(rows)
        hot = (
            base.groupBy("s").count()
            .filter(F.col("count") > max_shingle_df)
            .select("s")
        )
        rows = base.join(F.broadcast(hot), "s", "left_anti")
    ex = share(
        rows.withColumn("n", F.count(F.lit(1)).over(W.partitionBy("id")))
    )
    a = ex.select(F.col("id").alias("doc_a"), F.col("n").alias("na"), "s").alias("A")
    b = ex.select(F.col("id").alias("doc_b"), F.col("n").alias("nb"), "s").alias("B")
    pairs = (
        a.join(
            b,
            (F.col("A.s") == F.col("B.s"))
            & (F.col("A.doc_a") < F.col("B.doc_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
    )
    cont_a = F.col("inter") / F.col("na")
    cont_b = F.col("inter") / F.col("nb")
    return (
        pairs.withColumn("cont_a", cont_a)
        .withColumn("cont_b", cont_b)
        .filter(F.greatest(F.col("cont_a"), F.col("cont_b")) >= threshold)
        .select("doc_a", "doc_b", "cont_a", "cont_b")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 128,
) -> DataFrame:
    """(id, sh, sig: array<bigint>) — minhash signature per document.

    Execution shape: explode shingles to (id, h) rows, then ONE hash
    aggregation with num_hashes ``min(xxhash64(i, h))`` columns — every
    per-row expression a codegen'd scalar, so the whole O(docs x
    shingles x hashes) loop stays in HashAggregate codegen.  (Folding
    ``collect_set(sh)`` into the same aggregation was tried and is 2x
    WORSE: a typed-imperative aggregate downgrades the operator to
    ObjectHashAggregate, de-codegening all 128 mins.)  The distinct
    shingle ROWS are persisted and consumed by both the min-aggregation
    and the array rebuild, so shingling runs exactly once; at 100 TB the
    persist is the posting-list materialization any minhash pipeline
    does.
    """
    rows = share(shingle_rows(df, text_col, id_col, k))
    # shingles are already 64-bit hashes (shingle_rows); derive the
    # num_hashes families directly from them.  The aggregate is built
    # as ONE parsed SQL expression, not num_hashes Column objects
    # (r14): constructing 128 Columns costs ~0.67s of py4j round
    # trips PER DECLARATION vs ~0.03s for the single parse — measured
    # identical values (integer SQL literal i and F.lit(i) are both
    # IntegerType inputs to xxhash64), and dedup_increment declares
    # this twice per evaluation.
    sig_terms = ", ".join(
        f"min(xxhash64({i}, s))" for i in range(num_hashes)
    )
    sigs = rows.groupBy("id").agg(
        F.expr(f"array({sig_terms})").alias("sig")
    )
    sets_ = (
        rows.groupBy("id")
        .agg(F.collect_list("s").alias("sh"))
        .withColumn("n", F.size("sh"))
    )
    return sets_.join(sigs, "id").select("id", "sh", "n", "sig")


def band_entries(
    sigs: DataFrame, bands: int, rows_per_band: int
) -> DataFrame:
    """(id, band, bh) LSH band-bucket membership from a
    minhash_signatures output: ``bh = hash(slice(sig, band))`` cast to
    long.  THE single definition of the banding family — consumed by
    :func:`dedup_minhash_lsh`, the incremental corpus index
    (operators/incremental.py) and the streaming backfill
    (streaming/neardup.py), so batch, incremental and streaming buckets
    can never drift apart (parity with the stream's expression form is
    additionally asserted in tests/test_streaming_neardup.py)."""
    # ONE parsed SQL expression instead of `bands` Column-object
    # structs (r14): the py4j construction cost of 32 struct Columns
    # was ~0.4s per declaration (see minhash_signatures); inline()
    # yields the same (band, bh) rows and values as the old
    # explode+struct form.
    structs = ", ".join(
        f"struct({j} AS band, "
        f"CAST(hash(slice(sig, {j * rows_per_band + 1}, {rows_per_band}))"
        f" AS BIGINT) AS bh)"
        for j in range(bands)
    )
    return sigs.select(
        "id", F.expr(f"inline(array({structs}))")
    ).select("id", "band", "bh")


def dedup_minhash_lsh(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.8,
    verify_exact: bool = True,
) -> DataFrame:
    """MinHash + LSH banding + exact verification.

    bands=32 x rows=4 makes P(candidate | jaccard=s) = 1-(1-s^4)^32:
    ~0.87 at s=0.5, ~1-5e-8 at s=0.8 — so with threshold 0.8 the verified
    output equals the exact-jaccard result with near-certainty, at a
    fraction of the pair-enumeration cost.

    Returns (doc_a, doc_b, jaccard[, est_jaccard]).
    """
    rows_per_band = num_hashes // bands
    sigs = share(
        minhash_signatures(df, text_col, id_col, k, num_hashes)
    )

    entries = band_entries(sigs, bands, rows_per_band)

    lhs = entries.select(F.col("id").alias("doc_a"), "band", "bh")
    rhs = entries.select(F.col("id").alias("doc_b"), "band", "bh")
    candidates = (
        lhs.join(rhs, ["band", "bh"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )

    sa = sigs.select(F.col("id").alias("doc_a"), F.col("sh").alias("sh_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("doc_b"), F.col("sh").alias("sh_b"), F.col("sig").alias("sig_b"))
    joined = candidates.join(sa, "doc_a").join(sb, "doc_b")

    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        )
        / F.lit(num_hashes)
    )
    if not verify_exact:
        return joined.select(
            "doc_a", "doc_b", est.alias("est_jaccard")
        ).filter(F.col("est_jaccard") >= threshold)

    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        joined.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, simhash: bigint) — 64-bit SimHash over distinct tokens.
    Token-less documents (NULL / empty / whitespace-only text) emit no
    signature — see the explode comment below.

    bit b of the signature = sign of sum over tokens of ±1 depending on
    bit b of the token hash.

    Execution shape: explode distinct tokens to (id, hash) rows — the
    hash computed ONCE per token in the projection — then ONE HashAggregate
    with 64 codegen'd conditional ``sum`` columns (map-side partial
    aggregation included).  This replaces the previous formulation of 64
    interpreted ``aggregate()`` lambdas per document, which re-walked the
    token-hash array per bit in the interpreter — the per-row cost was the
    slowest path in the repo at scale.  Signature values are unchanged
    (byte-equality asserted in tests).

    ``hash_fn``:
      * ``"xxhash64"`` (default) — fastest; signatures match the previous
        implementation bit-for-bit.
      * ``"md5"`` — token hash = first 64 bits of md5 (two 32-bit halves
        via ``conv``).  md5 is identical across Spark / DuckDB / Python,
        so signatures are recomputable by the SQL oracle cross-engine.
    """
    df = fan_out(df)
    # plain explode: token-LESS documents (NULL / empty / whitespace-only
    # text tokenizes to NULL or [] under the shared convention) have no
    # content to sketch and are DROPPED from the signature table — on
    # both engines (the oracle's unnest drops them identically).  The
    # alternative (signature 0 for all of them, the pre-round-7
    # behavior) made every empty doc pair with every other at hamming 0:
    # a quadratic mega-bucket on any web corpus with empty docs.  Empty
    # docs belong to dedup_exact, not content sketching.
    tok_rows = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(TXT.tokens(F.col(text_col)))).alias("tok"),
    )
    # The 64 vote sums and the 64-term signature assembly are built as
    # TWO parsed SQL expressions, not ~190 Column objects (r14): the
    # Column-object construction cost ~1s of py4j round trips per
    # DECLARATION (the minhash_signatures finding); values are
    # byte-identical (asserted below via the unchanged signature
    # tests; shiftleft(1L, 63) wraps to the same sign-bit mask the old
    # F.lit(-(1 << 63)) produced).
    if hash_fn == "xxhash64":
        hashed = tok_rows.select("id", F.xxhash64("tok").alias("hl"))

        def bit_sql(b: int) -> str:
            return f"(shiftrightunsigned(hl, {b}) & CAST(1 AS BIGINT))"
    elif hash_fn == "md5":
        md5 = F.md5("tok")
        hashed = tok_rows.select(
            "id",
            # two 32-bit halves: conv() of 8 hex chars always fits a bigint
            F.conv(F.substring(md5, 1, 8), 16, 10).cast("bigint").alias("hh"),
            F.conv(F.substring(md5, 9, 8), 16, 10).cast("bigint").alias("hl"),
        )

        def bit_sql(b: int) -> str:
            src = "hl" if b < 32 else "hh"
            return f"(shiftrightunsigned({src}, {b % 32}) & CAST(1 AS BIGINT))"
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn!r}")

    vote_terms = ", ".join(
        f"sum(IF({bit_sql(b)} = 1, 1, -1))" for b in range(64)
    )
    votes = hashed.groupBy("id").agg(
        F.expr(f"array({vote_terms})").alias("_v")
    )
    # assemble the signature from the vote signs; bit 63 is the sign bit
    # (Java longs wrap, the disjoint-bit sum is still an OR)
    sig_sql = " + ".join(
        f"IF(_v[{b}] > 0, shiftleft(CAST(1 AS BIGINT), {b}), "
        "CAST(0 AS BIGINT))"
        for b in range(64)
    )
    return votes.select("id", F.expr(sig_sql).alias("simhash"))


def dedup_simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup candidates: 4 x 16-bit band blocking, then exact
    Hamming filter.  Pigeonhole guarantees a shared band for d <= 3 (only
    3 bits differ -> at most 3 of the 4 bands touched -> one band equal),
    so recall is EXACTLY 1 at ``max_hamming <= 3``; above that recall is
    probabilistic (measured ~0.68 for d <= 7 pairs on the synthetic
    corpus — acceptable for a candidate generator that is O(n) per band;
    raise recall by adding rotated band tables, at proportional shuffle
    cost).

    Returns (doc_a, doc_b, hamming).
    """
    sigs = simhash_signatures(df, text_col, id_col, hash_fn=hash_fn)
    bands = sigs.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), j * 16)
                        .bitwiseAND(F.lit(0xFFFF).cast("bigint"))
                        .alias("bh"),
                    )
                    for j in range(4)
                ]
            )
        ).alias("b"),
    ).select("id", "simhash", "b.band", "b.bh")
    lhs = bands.select(F.col("id").alias("doc_a"), F.col("simhash").alias("h_a"), "band", "bh")
    rhs = bands.select(F.col("id").alias("doc_b"), F.col("simhash").alias("h_b"), "band", "bh")
    return (
        lhs.join(rhs, ["band", "bh"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", VEC.hamming64(F.col("h_a"), F.col("h_b")).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def dedup_embedding_cosine(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.45,
) -> DataFrame:
    """Exact cosine near-dup pairs above threshold.

    Streamed-matmul self-join (operators/vectorized.py): one copy of the
    corpus is collected + broadcast as the reference matrix, the other
    streams through Arrow-batched BLAS, emitting only above-threshold
    (id_a < id_b) pairs.  The broadcast copy bounds this exact path to
    ~1M x 64-dim per executor; beyond that, generate candidates with the
    LSH/IVF operators in operators/similarity.py first.  Scores are
    rounded to 6 decimals (absorbs BLAS-vs-serial summation-order ulps;
    the oracle rounds identically).
    """
    pairs = VZ.pairs_above_threshold(
        emb, None, vec_col=vec_col, id_col=id_col, threshold=threshold, upper_triangle=True
    )
    return pairs.select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim_r"))


def _require_non_null_ids(df: DataFrame, id_col: str, op: str) -> DataFrame:
    """Fail LOUDLY on NULL document ids: both text-rewrite operators
    below rebuild via an equi-join on ``id_col``, and a NULL key never
    matches — a NULL-id document's text would be silently wiped to ''
    (and its blocks vanish from countDistinct df-statistics).  Same
    raise-inside-a-filter-predicate trick as similarity.py's dim check,
    so column pruning can't drop it."""
    check = F.when(F.col(id_col).isNotNull(), F.lit(True)).otherwise(
        F.raise_error(
            F.lit(
                f"{op}: NULL {id_col} — the rebuild joins on {id_col} and "
                "would silently empty this document's text; assign ids first"
            )
        )
    )
    return df.filter(check)


def _rebuild_text(
    df: DataFrame,
    kept: DataFrame,
    id_col: str,
    text_col: str,
    pos_col: str,
    part_col: str,
    sep: str,
    touched: DataFrame | None = None,
) -> DataFrame:
    """Shared epilogue of the text-rewrite operators: reassemble each
    document from its surviving (position, fragment) rows in order —
    array_sort on (pos, fragment) structs orders by the leading field,
    so the rebuild is one codegen'd aggregate, not a window — then join
    back onto the input (documents that lost every fragment coalesce to
    '').

    ``touched`` (a DataFrame whose single meaningful column is
    ``id_col``: the documents that actually LOST a fragment) restricts
    the rewrite: only touched documents are rebuilt, every other
    document keeps its input ``text_col`` byte-for-byte — original
    case, newlines, even NULL.  This is both the semantic fix for the
    round-5 advisor's ordering hazard (an untouched document must not
    come back normalized, or every downstream line/paragraph-structure
    operator silently sees collapsed text) and a scale win: the rebuild
    aggregate runs over the touched minority, not the whole corpus."""
    if touched is not None:
        touched = touched.select(F.col(id_col)).distinct()
        kept = kept.join(touched, id_col, "left_semi")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(pos_col, part_col))),
                lambda s: s[part_col],
            ),
            sep,
        ).alias("_rebuilt")
    )
    others = [c for c in df.columns if c != text_col]
    if touched is None:
        out = df.join(rebuilt, id_col, "left")
        new_text = F.coalesce("_rebuilt", F.lit(""))
    else:
        # a touched doc that lost EVERY fragment has no rebuilt row and
        # coalesces to ''; an untouched doc keeps its original text
        marker = touched.withColumn("_touched", F.lit(True))
        out = df.join(marker, id_col, "left").join(rebuilt, id_col, "left")
        new_text = F.when(
            F.col("_touched").isNotNull(), F.coalesce("_rebuilt", F.lit(""))
        ).otherwise(F.col(text_col))
    return out.select(*others, new_text.alias(text_col)).select(*df.columns)


def strip_boilerplate_paragraphs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int = 10,
    sep: str = "\n\n",
) -> DataFrame:
    """Remove paragraphs that appear in MORE than ``max_df`` distinct
    documents (the C4-style cross-document boilerplate cut: cookie
    banners, license headers, nav blocks), preserving the remaining
    paragraphs in original order.  Returns the input columns with
    ``text_col`` rewritten (documents whose every paragraph was
    boilerplate keep an empty string; documents that lost NO paragraph
    keep their input text byte-for-byte, including NULL).

    Execution shape, scale notes:

    * paragraphs are xxhash64'd BEFORE the document-frequency shuffle
      (same trick as shingle_rows: fixed-width longs, not text, move);
    * the hot set (paragraphs above ``max_df``) is by construction
      small — at most ``total_paragraphs / max_df`` rows — and joins
      back as a broadcast LEFT ANTI against the exploded paragraphs;
    * order restore is one groupBy with ``array_sort`` over (pos, para)
      structs — array_sort on structs orders by the leading ``pos``
      field, so the rebuild is a codegen'd aggregate, not a window.
    """
    df = _require_non_null_ids(df, id_col, "strip_boilerplate_paragraphs")
    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"),
    ).withColumn("ph", F.xxhash64("para"))
    hot = (
        paras.groupBy("ph")
        .agg(F.countDistinct(id_col).alias("pdf"))
        .filter(F.col("pdf") > max_df)
        .select("ph")
    )
    kept = paras.join(F.broadcast(hot), "ph", "left_anti")
    touched = paras.join(F.broadcast(hot), "ph", "left_semi").select(id_col)
    return _rebuild_text(
        df, kept, id_col, text_col, "pos", "para", sep, touched=touched
    )


def dedup_token_blocks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_tokens: int = 64,
    min_df: int = 2,
) -> DataFrame:
    """Exact SUBSTRING-level dedup at fixed token-block granularity —
    the block approximation of suffix-array training-data dedup (Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): a verbatim passage repeated across documents (a license
    header, a syndicated article body) is removed from every document
    except one, while the unique remainder of each document survives.
    Document-level dedup (exact/minhash) can't do this — a document
    that is 30% boilerplate and 70% unique is not a near-dup of
    anything, yet still carries the repeated passage into training.

    Semantics: documents are split into NON-overlapping
    ``block_tokens``-token blocks (operators/chunking.py boundaries, so
    a SQL oracle reproduces them exactly); a block whose text occurs in
    >= ``min_df`` DISTINCT documents keeps exactly ONE copy — in the
    minimum-``id_col`` holder (deterministic) — and is removed from all
    other documents; each TOUCHED document (one that lost >= 1 block)
    is rebuilt from its surviving blocks in order.  The rebuild is at
    token granularity, so a touched document's output ``text_col`` is
    the NORMALIZED text (lowercased, whitespace-collapsed — the same
    canonical form every dedup operator here fingerprints); documents
    that lost nothing keep their input text byte-for-byte (including
    NULL), so running line/paragraph-structure operators after this one
    only degrades the touched minority, not the corpus (the round-5
    advisor's ordering hazard).  Order operators accordingly: structure-
    dependent passes (repetition metrics, strip_boilerplate_paragraphs)
    should still run BEFORE this one when touched documents matter to
    them.  Within-document repeats inside the
    keeper are intra-doc dedup's job (functions/text.dedup_lines).
    Boundary caveat inherent to the FIXED-grid approximation: block
    contents only align between two documents when the passage's
    cross-document token-offset shift d satisfies d ≡ 0 (mod
    ``block_tokens``) — a shared passage at incongruent offsets is NOT
    detected (suffix arrays would be).  Two mitigations ship as
    composed operators: :func:`dedup_token_blocks_twopass` (a second
    grid at a coprime size widens the caught shifts to multiples of
    EITHER size) and :func:`dedup_token_chunks_cdc` (content-defined
    boundaries — fully offset-invariant, the recommended form).

    Execution shape at 100 TB: chunking is zero-shuffle scan work; the
    block stats are ONE groupBy on the 8-byte xxhash64 of the block
    (fixed-width keys move, not text — the shingle_rows trick); the
    hot-set join is left to the planner/AQE — at ``min_df=2`` the hot
    set is NOT "small by construction" (up to total_blocks/2 rows on a
    heavily-duplicated corpus; Lee et al. report whole-percent
    duplication rates), so forcing a broadcast here would blow the
    8 GB broadcast ceiling exactly when the operator matters most;
    the rebuild is the shared codegen'd array_sort aggregate.
    Equality via xxhash64 admits a ~2^-64-per-pair collision,
    identical to the shingle convention.
    """
    from excelstream_spark.operators.chunking import chunk_documents

    df = _require_non_null_ids(df, id_col, "dedup_token_blocks")
    blocks = chunk_documents(
        df, text_col=text_col, id_col=id_col,
        max_tokens=block_tokens, overlap=0,
    ).select(
        F.col("doc_id").alias(id_col), "chunk_idx",
        "chunk_text", F.xxhash64("chunk_text").alias("bh"),
    )
    hot = (
        blocks.groupBy("bh")
        .agg(
            F.countDistinct(id_col).alias("bdf"),
            F.min(id_col).alias("_keeper"),
        )
        .filter(F.col("bdf") >= min_df)
        .select("bh", "_keeper")
    )
    # no broadcast hint: the hot set is unbounded at min_df=2 (see
    # docstring) — AQE picks broadcast when it actually fits
    joined = blocks.join(hot, "bh", "left")
    kept = joined.filter(
        F.col("_keeper").isNull() | (F.col(id_col) == F.col("_keeper"))
    ).select(id_col, "chunk_idx", "chunk_text")
    touched = joined.filter(
        F.col("_keeper").isNotNull() & (F.col(id_col) != F.col("_keeper"))
    ).select(id_col)
    return _rebuild_text(
        df, kept, id_col, text_col, "chunk_idx", "chunk_text", " ",
        touched=touched,
    )


def dedup_token_blocks_twopass(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_tokens: tuple[int, ...] = (64, 97),
    min_df: int = 2,
) -> DataFrame:
    """Sequential :func:`dedup_token_blocks` passes at pairwise-COPRIME
    block sizes (the composed form of the mitigation the single-pass
    docstring describes; round-5 verdict task #3).

    Precise guarantee — stated carefully because a fixed grid is NOT
    offset-invariant: a pass at size ``b`` removes a passage shared by
    two documents only when the passage's cross-document token-offset
    shift ``d`` satisfies ``d ≡ 0 (mod b)`` (block contents must occupy
    the same grid phase in both documents; ``d ≡ 0`` with length
    ``>= 2b-1`` always yields a common full block).  Each extra pass
    widens the caught set to shifts divisible by ANY of the sizes;
    coprime sizes make the caught congruence classes overlap only at
    multiples of their product, so the union is the largest two fixed
    grids can give.  That covers the dominant real-world cases — d = 0
    (shared preamble/boilerplate at the same position, e.g. templated
    documents) via pass 1 at any size, and shifts caused by inserting
    or deleting whole blocks of either grid — but an ARBITRARY shift
    (prepending one word) still evades both grids; for full offset
    invariance use :func:`dedup_token_chunks_cdc`, which this
    composition exists to be compared against.

    Pass 2 runs on pass-1 OUTPUT: documents pass 1 touched re-chunk on
    their rewritten (normalized, blocks-removed) text — intended, since
    that text is what survives into training.  Cost = two single
    passes; each pass is the zero-shuffle chunk + one hash groupBy +
    touched-only rebuild of :func:`dedup_token_blocks`."""
    import itertools
    import math

    if len(block_tokens) < 2:
        raise ValueError(
            f"need >= 2 block sizes (one size is just dedup_token_blocks), "
            f"got {block_tokens}"
        )
    # PAIRWISE coprime, not merely gcd(all) == 1: (6, 10, 15) has
    # overall gcd 1 yet every pair shares a factor, so no two grids'
    # caught congruence classes would overlap only at their product —
    # the docstring's union guarantee needs every pair coprime (the
    # round-6 advisor's finding).
    for a, b in itertools.combinations(block_tokens, 2):
        if math.gcd(a, b) != 1:
            raise ValueError(
                f"block sizes must be PAIRWISE coprime (sizes {a} and "
                f"{b} share factor {math.gcd(a, b)}; both grids miss "
                f"every shift not divisible by it): {block_tokens}"
            )
    out = df
    for i, bt in enumerate(block_tokens):
        if i:
            # each pass consumes its input in ~4 subtrees (block scan,
            # hot-set groupBy, rebuild join, touched semi-join), so an
            # unmaterialized pass-2 input re-runs the ENTIRE pass-1
            # chain per subtree — the scoped persist bounds that to
            # once (interleaved A/B at sf0.1: mins 3.3 vs 4.1s and
            # 5.0 vs 5.9s in both orderings)
            out = share(out)
        out = dedup_token_blocks(
            out, text_col=text_col, id_col=id_col,
            block_tokens=bt, min_df=min_df,
        )
    return out


def dedup_token_chunks_cdc(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    avg_tokens: int = 16,
    min_df: int = 2,
    min_chunk_tokens: int = 4,
    max_tokens: int | None = None,
) -> DataFrame:
    """OFFSET-INVARIANT substring dedup: content-defined chunk
    boundaries (chunking.chunk_documents_cdc — boundaries anchored to
    token content, not position) make a passage's interior chunks
    byte-identical wherever the passage sits in a document, so a
    repeated passage long enough to contain >= 1 interior chunk is
    caught at ANY cross-document offset — the failure mode both fixed-
    grid forms retain (see :func:`dedup_token_blocks_twopass`).  This is
    the recommended substring-dedup form; expected catch length is
    ~2*avg_tokens tokens (two boundary draws), vs the fixed grid's
    2*block_tokens-1 AND offset congruence.

    Same removal semantics as :func:`dedup_token_blocks`: a chunk in
    >= ``min_df`` distinct documents survives only in the minimum-id
    holder; touched documents are rebuilt normalized from surviving
    chunks in order, untouched documents keep their text byte-for-byte.
    Chunks shorter than ``min_chunk_tokens`` never enter the hot set
    (a 1-2 token chunk is a common phrase, not a copied passage; equal
    text implies equal token count, so filtering the hot side alone is
    exact).

    100 TB shape: two text-volume shuffles from the CDC chunker (per-doc
    window + chunk assembly), then the same 8-byte-hash df-stats groupBy
    / AQE-chosen hot join / touched-only rebuild as the fixed grid.
    Lee et al. 2022 (arXiv:2107.06499) motivates the operator; content-
    defined chunking is the standard offset-robust approximation of
    their suffix-array ExactSubstr at a fraction of its cost."""
    from excelstream_spark.operators.chunking import chunk_documents_cdc

    df = _require_non_null_ids(df, id_col, "dedup_token_chunks_cdc")
    chunks = chunk_documents_cdc(
        df, text_col, id_col, avg_tokens, max_tokens
    ).select(
        F.col("doc_id").alias(id_col), "chunk_idx", "chunk_text",
        "n_tokens", F.xxhash64("chunk_text").alias("bh"),
    )
    hot = (
        chunks.filter(F.col("n_tokens") >= min_chunk_tokens)
        .groupBy("bh")
        .agg(
            F.countDistinct(id_col).alias("bdf"),
            F.min(id_col).alias("_keeper"),
        )
        .filter(F.col("bdf") >= min_df)
        .select("bh", "_keeper")
    )
    joined = chunks.join(hot, "bh", "left")
    kept = joined.filter(
        F.col("_keeper").isNull() | (F.col(id_col) == F.col("_keeper"))
    ).select(id_col, "chunk_idx", "chunk_text")
    touched = joined.filter(
        F.col("_keeper").isNotNull() & (F.col(id_col) != F.col("_keeper"))
    ).select(id_col)
    return _rebuild_text(
        df, kept, id_col, text_col, "chunk_idx", "chunk_text", " ",
        touched=touched,
    )
