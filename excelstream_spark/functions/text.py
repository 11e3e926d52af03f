"""Text-analysis column functions for large-corpus pipelines.

Reference parity: the reference has no text analysis (SURVEY.md §2.6);
this implements the BASELINE.json extension surface.

Everything here is a pure JVM-side column expression (codegen'd,
no Python in the executor hot path).  Semantics are chosen
to be ANSI-SQL-expressible so every derived metric can be oracle-checked
against DuckDB with identical results (exact integer arithmetic; double
division of the same integers).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Tiny multilingual marker-word lists for the n-gram/stopword language
#: heuristic.  Deliberately small and deterministic — language ID at corpus
#: scale is a scoring heuristic, not a model.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "a"),
    "de": ("der", "die", "und", "das", "ist", "nicht"),
    "es": ("el", "la", "los", "que", "es", "y"),
    "fr": ("le", "les", "des", "est", "une", "et"),
}

#: English stopwords used for the quality-score stopword ratio.
STOPWORDS: tuple[str, ...] = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "from", "that", "this",
)


def normalized(col) -> Column:
    """Lowercase + whitespace-collapse + trim: the canonical form used for
    fingerprinting and shingling."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def tokens(col) -> Column:
    """Whitespace tokens of the lowercased text, with empty edge tokens
    removed — the single tokenization convention shared by the JVM
    expressions, :func:`tokens_py`, and every DuckDB oracle
    (``list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t
    <> '')``).  ``split`` on ``\\s+`` can only produce empty strings at
    the two EDGES (interior runs collapse), so ``array_remove`` exactly
    strips leading/trailing whitespace of every kind — unlike the
    pre-round-7 ``F.trim`` form, which stripped only 0x20 and counted
    ``'\\nfoo\\n'`` as three tokens (the round-6 advisor's finding).
    Empty / whitespace-only text tokenizes to ``[]`` (size 0), so every
    per-token denominator downstream must guard the zero (``try_divide``
    → NULL, matching DuckDB's x/0)."""
    return F.array_remove(F.split(F.lower(col), r"\s+"), "")


def token_count(col) -> Column:
    return F.size(tokens(col))


def char_count(col) -> Column:
    return F.length(col)


def punct_count(col) -> Column:
    """Count of sentence punctuation characters."""
    return F.length(F.regexp_replace(col, r"[^.,;:!?]", ""))


def stopword_count(col) -> Column:
    stoplist = F.array(*[F.lit(w) for w in STOPWORDS])
    return F.size(F.filter(tokens(col), lambda t: F.array_contains(stoplist, t)))


def stopword_ratio(col) -> Column:
    # try_divide: token_count is 0 for empty/whitespace-only text and
    # Spark 4's default ANSI mode makes x/0 a job-aborting error; NULL
    # here matches DuckDB's x/0 so the oracles stay value-identical.
    return F.try_divide(stopword_count(col), token_count(col))


def avg_token_length(col) -> Column:
    toks = tokens(col)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    # NULL (not ANSI error) on 0 tokens, matching DuckDB's x/0
    return F.try_divide(total, F.size(toks))


def fingerprint(col) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.
    (md5 is identical across Spark / DuckDB / Python hashlib, so this is
    the cross-engine dedup key.)"""
    return F.md5(normalized(col))


def shingles_from_tokens(tok_col, k: int = 3) -> Column:
    """k-token shingles from an ALREADY-MATERIALIZED token array column.

    ``tok_col`` must be a bound column (``F.col("t")``), not an inline
    ``split(...)`` expression: higher-order lambdas re-evaluate embedded
    subexpressions per element, which turns an inlined split into
    O(tokens^2) work per document (measured 10x+ on the sf0.1 corpus).

    Guarded for short documents: fewer than ``k`` tokens -> empty array
    (the shingle-count ``greatest(size - k + 1, 0)`` clamps to zero).

    Built as k-1 iterated ``zip_with`` over k aligned slices rather
    than ``transform(sequence, i -> concat_ws(slice(tok, i+1, k)))``:
    the per-ELEMENT slice+concat_ws re-allocates per shingle and
    measured 5x+ slower on the sf0.1 corpus (4.3s -> 0.8s for the
    bigram explode); the zip_with form slices ONCE per document and
    does one concat per element.  Output is string-identical."""
    n = F.greatest(F.size(tok_col) - (k - 1), F.lit(0))
    acc = F.slice(tok_col, 1, n)
    for j in range(1, k):
        acc = F.zip_with(
            acc,
            F.slice(tok_col, j + 1, n),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return acc


def shingles(col, k: int = 3) -> Column:
    """Distinct k-token shingles of a TEXT column.  Prefer materializing
    ``tokens()`` into its own select and calling ``shingles_from_tokens``
    (see its docstring for why); this form is for one-off expressions."""
    return shingles_from_tokens(tokens(col), k)


def distinct_shingles(col, k: int = 3) -> Column:
    return F.array_distinct(shingles(col, k))


def lang_scores(col) -> dict[str, Column]:
    """Marker-token hit count per candidate language + CJK char count."""
    toks = tokens(col)
    scores: dict[str, Column] = {}
    for lang, markers in LANG_MARKERS.items():
        marker_arr = F.array(*[F.lit(m) for m in markers])
        scores[lang] = F.size(F.filter(toks, lambda t: F.array_contains(marker_arr, t)))
    scores["zh"] = F.length(F.regexp_replace(col, r"[^一-鿿]", ""))
    return scores


def lang_id(col) -> Column:
    """Heuristic language ID: argmax of marker scores with a fixed
    priority order (en > de > es > fr > zh) for ties; 'und' when no
    marker hits at all."""
    s = lang_scores(col)
    best = F.greatest(*s.values())
    expr = F.lit("und")
    # reversed so the first language in priority order wins ties
    for lang in reversed(["en", "de", "es", "fr", "zh"]):
        expr = F.when((s[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def quality_score(col) -> Column:
    """Composite [0,1] quality score from length / punctuation / stopword
    signals (a Gopher-rules-style heuristic, exact-arithmetic only):

      0.4 * clamp(n_tokens / 50)            -- enough content
    + 0.3 * clamp(stopword_ratio * 5)       -- natural-language-ness
    + 0.3 * (1 - clamp(punct_ratio * 10))   -- not punctuation soup
    """
    nt = token_count(col).cast("double")
    sr = stopword_ratio(col)
    # guard the zero-length denominator: under Spark 4's default ANSI
    # mode ''/0 is a job-aborting DIVIDE_BY_ZERO, not a NULL (a corpus
    # with one empty/coalesced-empty text would crash every consumer);
    # the guarded form yields NULL exactly like DuckDB's 0/0, so every
    # oracle comparison is unchanged
    cc = char_count(col)
    pr = F.when(cc > 0, punct_count(col) / cc)
    clamp = lambda c: F.least(F.lit(1.0), c)  # noqa: E731
    return (
        0.4 * clamp(nt / 50)
        + 0.3 * clamp(sr * 5)
        + 0.3 * (1 - clamp(pr * 10))
    )


#: Gopher rule-filter stop list (Rae et al. 2021 §A1.1: a document must
#: contain at least two of these words).  Distinct from STOPWORDS above,
#: which drives the stopword-RATIO quality signal.
GOPHER_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def gopher_metrics(col) -> dict[str, Column]:
    """The per-document measurements behind the Gopher quality rules
    (Rae et al. 2021, public rule set) — every one a JVM-side
    expression (no Python, no shuffle; the array-lambda fractions are
    interpreted rather than codegen-fused, see operators/quality.py)
    with an identical-semantics DuckDB formulation (tested
    value-for-value in tests/test_quality_semantic.py):

    * ``n_words`` / ``mean_word_len`` — whitespace tokens of the
      normalized text;
    * ``symbol_ratio`` — '#' or ellipsis occurrences per word;
    * ``bullet_line_frac`` / ``ellipsis_line_frac`` — fraction of lines
      starting with a bullet glyph / ending with an ellipsis;
    * ``alpha_word_frac`` — fraction of words containing a letter;
    * ``n_gopher_stopwords`` — distinct GOPHER_STOPWORDS present
      (tokens stripped to [a-z] first, so "the," still counts).

    NULL text is coalesced to '' (the oracle-symmetry rule: DuckDB's
    list functions and Spark's higher-order functions disagree on NULL
    propagation shape, the exact class behind the round-3 regression).
    """
    c = F.coalesce(col if isinstance(col, Column) else F.col(col), F.lit(""))
    toks = tokens(c)
    lines = F.split(c, "\n")
    n_words = F.size(toks).cast("double")
    n_lines = F.size(lines).cast("double")
    stripped = F.transform(toks, lambda t: F.regexp_replace(t, "[^a-z]", ""))
    stop_arr = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    return {
        "n_words": F.size(toks),
        "mean_word_len": avg_token_length(c),
        "symbol_ratio": F.try_divide(
            F.regexp_count(c, F.lit(r"#|\.\.\.|…")), n_words
        ),
        "bullet_line_frac": (
            F.size(F.filter(lines, lambda l: l.rlike(r"^\s*[-*•‣▪]")))
            / n_lines
        ),
        "ellipsis_line_frac": (
            F.size(F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$")))
            / n_lines
        ),
        "alpha_word_frac": F.try_divide(
            F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))), n_words
        ),
        "n_gopher_stopwords": F.size(
            F.array_intersect(F.array_distinct(stripped), stop_arr)
        ),
    }


#: (metric, low, high) inclusive bounds per Gopher rule; None = unbounded.
GOPHER_RULES: tuple[tuple[str, float | None, float | None], ...] = (
    ("n_words", 50, 100_000),
    ("mean_word_len", 3, 10),
    ("symbol_ratio", None, 0.1),
    ("bullet_line_frac", None, 0.9),
    ("ellipsis_line_frac", None, 0.3),
    ("alpha_word_frac", 0.8, None),
    ("n_gopher_stopwords", 2, None),
)


def _dup_char_count(arr: Column) -> Column:
    """Characters in REPEAT occurrences of duplicated elements of
    ``arr`` — occurrences beyond the first, the standard Gopher
    formulation (two copies of a 40-char line contribute 40, not 80),
    so the published 0.20 char-fraction bounds mean what the paper
    meant.  (Through round 5 this counted ALL occurrences, which made
    the dup_*_char_frac filters materially stricter than Gopher's;
    flagged by the round-5 advisor and fixed with the oracle.)  Single
    O(L log L) pass: sort, then one aggregate whose struct accumulator
    tracks the current run (value, length) and flushes
    (run_len - 1) * length(value) into the total when a run of >= 2
    ends.  No lambda references an outer column, so nothing re-evaluates
    per element (the project-collapse trap streaming/neardup.py
    documents)."""
    srt = F.array_sort(arr)
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("dup"),
    )

    def step(acc, x):
        flushed = acc["dup"] + F.when(
            acc["run"] >= 2, (acc["run"] - 1) * F.length(acc["prev"])
        ).otherwise(F.lit(0).cast("long"))
        return F.when(
            x == acc["prev"],
            F.struct(
                acc["prev"].alias("prev"),
                (acc["run"] + 1).alias("run"),
                acc["dup"].alias("dup"),
            ),
        ).otherwise(
            F.struct(x.alias("prev"), F.lit(1).cast("long").alias("run"),
                     flushed.alias("dup"))
        )

    def finish(acc):
        return acc["dup"] + F.when(
            acc["run"] >= 2, (acc["run"] - 1) * F.length(acc["prev"])
        ).otherwise(F.lit(0).cast("long"))

    return F.aggregate(srt, init, step, finish)


def repetition_metrics(col) -> dict[str, Column]:
    """The Gopher REPETITION measurements at line and paragraph
    granularity (Rae et al. 2021 §A1.1 "repetitious" filters; the
    n-gram-level signals live in plans/extension.py corpus_governance):

    * ``dup_line_frac`` / ``dup_para_frac`` — 1 - distinct/total
      segments (what share of segments are repeats of an earlier one);
    * ``dup_line_char_frac`` / ``dup_para_char_frac`` — share of
      segment characters inside REPEAT occurrences of duplicated
      segments (occurrences beyond the first — the standard Gopher
      formulation, matching the published 0.20 bounds).

    Fractions are NULL for empty inputs (0 segments / 0 characters)
    rather than a divide-by-zero surprise; the composed pass predicate
    treats NULL as failing.  NULL text coalesces to '' first (oracle
    symmetry).  Identical arithmetic runs in DuckDB via a group-by
    formulation (tests/test_quality_semantic.py) — algorithm differs,
    values must not."""
    c = F.coalesce(col if isinstance(col, Column) else F.col(col), F.lit(""))
    out: dict[str, Column] = {}
    for label, sep in (("line", "\n"), ("para", "\n\n")):
        segs = F.split(c, sep)
        total = F.size(segs).cast("double")
        total_chars = F.aggregate(
            segs, F.lit(0).cast("long"), lambda a, s: a + F.length(s)
        ).cast("double")
        out[f"dup_{label}_frac"] = F.when(
            total > 0, 1.0 - F.size(F.array_distinct(segs)) / total
        )
        out[f"dup_{label}_char_frac"] = F.when(
            total_chars > 0, _dup_char_count(segs) / total_chars
        )
    return out


#: Gopher repetition bounds (keep iff metric <= bound; NULL fails).
REPETITION_RULES: tuple[tuple[str, float], ...] = (
    ("dup_line_frac", 0.30),
    ("dup_para_frac", 0.30),
    ("dup_line_char_frac", 0.20),
    ("dup_para_char_frac", 0.20),
)


#: Gopher n-gram repetition bounds (keep iff metric <= bound) — the
#: published char-fraction bounds, applied to the token fraction for the
#: dup_{5..10} rules (see ngram_repetition_metrics_py).
NGRAM_REPETITION_RULES: tuple[tuple[str, float], ...] = (
    ("top_2_gram_char_frac", 0.20),
    ("top_3_gram_char_frac", 0.18),
    ("top_4_gram_char_frac", 0.16),
    ("dup_5_gram_token_frac", 0.15),
    ("dup_6_gram_token_frac", 0.14),
    ("dup_7_gram_token_frac", 0.13),
    ("dup_8_gram_token_frac", 0.12),
    ("dup_9_gram_token_frac", 0.11),
    ("dup_10_gram_token_frac", 0.10),
)

NGRAM_TOP_NS: tuple[int, ...] = (2, 3, 4)
NGRAM_DUP_NS: tuple[int, ...] = (5, 6, 7, 8, 9, 10)

def tokens_py(text: str | None) -> list[str]:
    """Python mirror of the shared JVM ``tokens()``: split the
    lowercased text on the Java ``\\s`` class (ASCII ``[ \\t\\n\\x0b
    \\f\\r]`` — Python's default ``str.split`` is unicode-aware and
    would diverge on e.g. non-breaking spaces) and drop empty tokens.
    Splitting on a whitespace RUN can only produce empties at the two
    edges, so the filter is exactly the JVM's ``array_remove(split(...),
    '')``.  Empty / whitespace-only / NULL text yields ``[]``.  NULLs
    guard against pandas' float-NaN spelling too (``nan or ''`` is
    truthy — the trap multimodal.py's fake branch documents).  Shared by
    every Arrow-batched text operator so Python-side and JVM-side
    tokenizations can never drift; the round-6 advisor verified the
    previous strip-chars-<=0x20 form diverged from the JVM on
    ``'\\tfoo bar\\n'`` — this form is property-tested against the JVM
    and DuckDB on edge-whitespace documents
    (tests/test_quality_semantic.py)."""
    import re

    if text is None or isinstance(text, float):  # None or pandas NaN
        text = ""
    return [t for t in re.split(r"[ \t\n\x0b\f\r]+", text.lower()) if t]


def ngram_repetition_metrics_py(text: str | None) -> dict[str, float]:
    """The Gopher n-gram repetition measurements for ONE document (Rae
    et al. 2021 §A1.1, completing the line/paragraph set above) — plain
    Python, consumed Arrow-batched via mapInPandas by
    operators/quality.ngram_repetition_flags:

    * ``top_{n}_gram_char_frac`` (n=2,3,4) — characters in ALL
      occurrences of the single most frequent n-gram (0 unless some
      n-gram occurs >= 2 times), over the normalized text length — the
      DataTrove/Gopher convention (overlapping occurrences each count,
      so the fraction can exceed 1 on degenerate repeats);
    * ``dup_{n}_gram_token_frac`` (n=5..10) — fraction of TOKENS
      covered by at least one duplicated n-gram occurrence, exact
      interval union (overlaps never double-count).  Documented
      deviation: the paper states a CHARACTER fraction; token coverage
      tracks it closely on natural text and keeps the pass exact and
      cheap.  The published char bounds apply to the token fraction
      as-is.

    Documents with fewer than n tokens yield 0.0 (trivially pass, the
    reference-implementation convention); NULL coalesces to ''.

    Why Python and not Column expressions: a faithful expression form
    was built and measured first — 9 metrics of zip_with cascades +
    array sorts run ~14 ms/doc interpreted (72 s for the sf0.1
    documents table), because every reuse of the sorted gram array
    re-evaluates its whole construction.  The per-doc dict/Counter
    version is O(total n-grams) with tiny constants (~50 µs/doc) and
    ships Arrow-batched in the scan stage — exactly the vectorized-
    Python escape hatch the multimodal operators use.  Values are
    engine-checked against a DuckDB SQL replay either way
    (tests/test_quality_semantic.py).

    Tokenization mirrors the shared JVM ``tokens()`` exactly via
    :func:`tokens_py`."""
    toks = tokens_py(text)
    n_tok = len(toks)
    out: dict[str, float] = {}
    total_chars = len(" ".join(toks))
    for n in NGRAM_TOP_NS:
        key = f"top_{n}_gram_char_frac"
        if n_tok < n or total_chars == 0:
            out[key] = 0.0
            continue
        counts: dict[tuple[str, ...], int] = {}
        for j in range(n_tok - n + 1):
            g = tuple(toks[j : j + n])
            counts[g] = counts.get(g, 0) + 1
        # The single MOST FREQUENT n-gram (Gopher / DataTrove
        # Counter.most_common convention) — ties broken by earliest
        # first occurrence, which is exactly Counter.most_common(1)'s
        # stable-sort behavior since dicts preserve insertion order.
        # (Through round 6 this picked the gram maximizing
        # count*chars, a stricter filter than published — the round-6
        # advisor's finding; the SQL oracle mirrors this rule via
        # min(first_pos) among max-count grams.)
        top_g = max(counts, key=counts.get)  # first-seen wins ties
        top_c = counts[top_g]
        if top_c >= 2:
            out[key] = (
                top_c * (sum(map(len, top_g)) + n - 1) / total_chars
            )
        else:
            out[key] = 0.0
    for n in NGRAM_DUP_NS:
        key = f"dup_{n}_gram_token_frac"
        if n_tok < n:
            out[key] = 0.0
            continue
        counts2: dict[tuple[str, ...], int] = {}
        grams = [tuple(toks[j : j + n]) for j in range(n_tok - n + 1)]
        for g in grams:
            counts2[g] = counts2.get(g, 0) + 1
        covered = 0
        last_end = -1
        for j, g in enumerate(grams):
            if counts2[g] >= 2:
                covered += max(0, j + n - max(j, last_end))
                last_end = max(last_end, j + n)
        out[key] = covered / n_tok
    return out


def repetition_pass(col) -> Column:
    """True iff every repetition metric is within its Gopher bound;
    empty documents (NULL metrics) fail."""
    m = repetition_metrics(col)
    out = F.lit(True)
    for name, bound in REPETITION_RULES:
        out = out & (m[name] <= F.lit(bound))
    return F.coalesce(out, F.lit(False))


def gopher_pass(col, rules=GOPHER_RULES) -> Column:
    """True iff the document passes EVERY rule in ``rules`` (default:
    the published Gopher bounds) over :func:`gopher_metrics` — the
    composed keep predicate.  ``rules`` follows the GOPHER_RULES shape;
    pass a tuned subset for corpora where a stock bound is known to be
    inapplicable (e.g. the stop-word rule on non-English text)."""
    m = gopher_metrics(col)
    out = F.lit(True)
    for name, lo, hi in rules:
        if lo is not None:
            out = out & (m[name] >= F.lit(lo))
        if hi is not None:
            out = out & (m[name] <= F.lit(hi))
    return out


#: BPE-ish piece pattern: alpha runs, digit runs, single non-space symbol —
#: the coarse pre-tokenization GPT-style BPE applies before merges.  Kept to
#: constructs with identical semantics in Java regex (Spark) and RE2
#: (DuckDB) so counts oracle-match across engines.
BPE_PIECE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_piece_count(col) -> Column:
    """Number of BPE-style pre-token pieces (proxy for LLM token count —
    the budget metric a training-data pipeline filters on)."""
    return F.regexp_count(col, F.lit(BPE_PIECE_PATTERN))


#: Cleaning regexes — kept to constructs with identical semantics in Java
#: regex (Spark) and RE2 (DuckDB) so cleaned output oracle-matches.
URL_PATTERN = r"https?://[^\s]+"
TAG_PATTERN = r"<[^>]*>"
CONTROL_PATTERN = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"

#: PII patterns (same Java/RE2 dual-engine constraint) and their
#: replacement tokens, in application order: emails first (so the IP
#: pattern cannot nibble a dotted local-part), then IPv4, then
#: international phone numbers.
PII_EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IP_PATTERN = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE_PATTERN = r"\+\d{9,15}"
PII_REPLACEMENTS: tuple[tuple[str, str, str], ...] = (
    ("emails", PII_EMAIL_PATTERN, "<EMAIL>"),
    ("ips", PII_IP_PATTERN, "<IP>"),
    ("phones", PII_PHONE_PATTERN, "<PHONE>"),
)


def pii_counts(col) -> dict[str, Column]:
    """``n_emails`` / ``n_ips`` / ``n_phones`` occurrence counts —
    codegen'd regexp_count, the audit half of PII handling.

    Counts are taken SEQUENTIALLY on the progressively-redacted text
    (n_ips counts the email-redacted text, n_phones the email+ip-
    redacted text), so each count equals the number of replacement
    tokens :func:`redact_pii` actually writes.  Counting every pattern
    on the raw text instead would report phantom un-redacted PII: the
    phone pattern matches inside ``user+123456789@example.com``'s
    local-part, but redaction consumes the whole email first and never
    writes a ``<PHONE>`` token."""
    c = F.coalesce(col if isinstance(col, Column) else F.col(col), F.lit(""))
    out: dict[str, Column] = {}
    for name, pat, repl in PII_REPLACEMENTS:
        out[f"n_{name}"] = F.regexp_count(c, F.lit(pat))
        c = F.regexp_replace(c, pat, repl)
    return out


def redact_pii(col) -> Column:
    """Text with every PII match replaced by its type token
    (``<EMAIL>``/``<IP>``/``<PHONE>``) — chained codegen'd
    regexp_replace, scan speed, idempotent (the tokens contain no
    pattern-matchable characters)."""
    out = F.coalesce(col if isinstance(col, Column) else F.col(col), F.lit(""))
    for _, pat, repl in PII_REPLACEMENTS:
        out = F.regexp_replace(out, pat, repl)
    return out


def clean_text(col) -> Column:
    """Boilerplate cleaning for training corpora: strip URLs, markup
    tags and control characters, then collapse whitespace.  Order
    matters (tags may contain URLs); every step is a codegen'd
    regexp_replace — zero shuffle, scan-speed at any corpus size, and
    the same regexes run in DuckDB for oracle checks."""
    out = F.regexp_replace(col, TAG_PATTERN, " ")
    out = F.regexp_replace(out, URL_PATTERN, " ")
    # control chars become SPACES (not ""): they separate words in dirty
    # text, and deleting them would glue the neighbors together
    out = F.regexp_replace(out, CONTROL_PATTERN, " ")
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def dedup_lines(col, sep: str = "\n") -> Column:
    """Remove DUPLICATE lines within one document, preserving first-
    occurrence order (`array_distinct` keeps encounter order): the
    intra-document twin of corpus-level dedup — repeated nav menus,
    footers and list boilerplate collapse to one occurrence.  Pure
    codegen'd array expressions, scan-speed at any corpus size."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_join(F.array_distinct(F.split(c, sep)), sep)


def dedup_paragraphs(col, sep: str = "\n\n") -> Column:
    """`dedup_lines` at paragraph granularity (blank-line separated)."""
    return dedup_lines(col, sep)


# -- C4 line-level cleaning (Raffel et al. 2020 §2.2) ----------------------

#: A retained line must end in one of these (period, exclamation mark,
#: question mark, end quotation mark — the published terminal set).
C4_END_MARK_PATTERN = r'[.!?"]\s*$'  # \s* tolerates a trailing \r (CRLF text)

#: Line-level boilerplate phrases (the TFDS c4_utils policy set): a line
#: containing any of these as a substring is dropped.  "javascript" is
#: NOT in this list — the paper's rule is "any line with the WORD
#: Javascript", so it is matched at token level (the shared tokens()
#: convention) in :func:`c4_line_keep`, not by substring containment
#: ("javascripting"/"nojavascript" lines survive; r7 advice #4).
C4_POLICY_PHRASES: tuple[str, ...] = (
    "terms of use",
    "privacy policy",
    "cookie policy",
    "uses cookies",
    "use of cookies",
    "use cookies",
)

#: Minimum words per retained line / sentences per retained page
#: (paper values: 5 words, 3 sentences; the TFDS release tightened the
#: sentence floor to 5 — the paper number is the default here).
C4_MIN_WORDS_PER_LINE = 5
C4_MIN_SENTENCES = 3

#: Deterministic sentence proxy: terminal marks in the retained text —
#: the SAME character set as C4_END_MARK_PATTERN (incl. the end
#: quotation mark), so every retained line contributes >= 1 sentence by
#: construction (r7 advice: with the quote excluded, a line terminated
#: only by '"' was retained yet counted zero sentences, silently
#: tightening the 3-sentence page floor).  (C4 used a model-based
#: splitter; a terminal-mark count is the SQL-replayable stand-in.  It
#: over-counts mid-line marks — abbreviations, '."' sequences count
#: both characters — identically on both engines.)
C4_SENTENCE_MARK_PATTERN = r'[.!?"]'


def c4_line_keep(line: Column) -> Column:
    """The C4 per-line keep predicate: ends in terminal punctuation,
    has >= C4_MIN_WORDS_PER_LINE words (shared tokens() convention),
    contains no policy phrase (substring, case-insensitive), and does
    not contain the word "javascript" (TOKEN-level — the paper's "any
    line with the word Javascript"; tokens() already lowercases).
    Pure column expressions — usable inside F.filter over the split
    line array (executor-local, zero shuffle)."""
    lw = F.lower(line)
    tk = tokens(line)
    keep = (
        line.rlike(C4_END_MARK_PATTERN)
        & (F.size(tk) >= F.lit(C4_MIN_WORDS_PER_LINE))
        & ~F.array_contains(tk, F.lit("javascript"))
    )
    for phrase in C4_POLICY_PHRASES:
        keep = keep & ~F.contains(lw, F.lit(phrase))
    return keep


def c4_metrics(col, badwords: tuple[str, ...] = ()) -> dict[str, Column]:
    """The C4 cleaning metrics as column expressions over one document:
    ``n_lines`` / ``n_kept_lines`` (line filter above), ``c4_text``
    (the retained lines, newline-rejoined), ``n_sentences`` (terminal
    marks in the retained text), ``has_lorem_ipsum`` / ``has_curly_brace``
    (page-drop triggers on the ORIGINAL text), ``c4_pass`` (the composed
    page decision).  ``badwords`` plugs in a token blocklist (C4 drops
    pages containing any listed word; the published list is external —
    pass it here, the default is empty so the rule is vacuous)."""
    t = F.coalesce(col if isinstance(col, Column) else F.col(col), F.lit(""))
    lines = F.split(t, "\n")
    kept = F.filter(lines, c4_line_keep)
    ct = F.array_join(kept, "\n")
    n_sent = F.regexp_count(ct, F.lit(C4_SENTENCE_MARK_PATTERN))
    has_lorem = F.contains(F.lower(t), F.lit("lorem ipsum"))
    has_brace = F.contains(t, F.lit("{"))
    bad = (
        F.arrays_overlap(tokens(t), F.array(*[F.lit(w) for w in badwords]))
        if badwords
        else F.lit(False)
    )
    c4_pass = (
        (n_sent >= F.lit(C4_MIN_SENTENCES)) & ~has_lorem & ~has_brace & ~bad
    )
    return {
        "n_lines": F.size(lines),
        "n_kept_lines": F.size(kept),
        "c4_text": ct,
        "n_sentences": n_sent,
        "has_lorem_ipsum": has_lorem,
        "has_curly_brace": has_brace,
        "c4_pass": c4_pass,
    }


def nfc_normalize_df(df, text_col: str = "text", out_col: str = "text_nfc"):
    """DataFrame helper: append ``out_col`` = Unicode NFC normalization
    of ``text_col`` (NULL stays NULL).  Spark has no built-in Unicode
    normalizer, so this is one Arrow-batched ``mapInPandas`` over
    Python's unicodedata (zero shuffle, scan-parallel); DuckDB's
    ``nfc_normalize`` replays it — both implement Unicode NFC, so the
    outputs hash-match (divergence is only possible across Unicode
    VERSION skew on newly-assigned codepoints, which real corpora
    predate).  Normalizing BEFORE hashing/fingerprinting matters:
    'é' composed and 'e'+U+0301 decomposed are different md5s for
    visually identical text — un-normalized corpora under-dedup."""
    import unicodedata

    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType(
        df.schema.fields + [StructField(out_col, StringType(), True)]
    )

    def norm(batches):
        for pdf in batches:
            out = pdf.copy()
            out[out_col] = [
                unicodedata.normalize("NFC", t) if t is not None else None
                for t in pdf[text_col]
            ]
            yield out

    return df.mapInPandas(norm, schema)
