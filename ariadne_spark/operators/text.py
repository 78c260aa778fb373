"""Text-analysis operators for large-scale training-data pipelines.

All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM
whole-stage codegen, no Python round-trips), so they run at scan
speed over 100 TB of documents. Each operator also has an ANSI-SQL
twin used as a DuckDB oracle by the correctness harness.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny embedded stopword lists for the n-gram/stopword language
# heuristic. Deliberately small: language ID here is a deterministic,
# cheap heuristic, not a model.
# the classic English function-word list used for the stopword-ratio
# quality signal (token equality over lowered space-split text, same
# mechanism as LANG_MARKERS so the DuckDB oracle expresses it too)
STOPWORDS: list[str] = [
    "the", "and", "of", "to", "is", "in", "a", "that", "it", "for",
    "on", "with", "as", "was", "at", "by", "an", "be", "this", "are",
]

LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "nicht"],
    "es": ["el", "los", "que", "las", "una"],
}


def tokens(col: str | Column) -> Column:
    """Whitespace tokens (split on runs of whitespace, trimmed)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


def token_count(col: str | Column) -> Column:
    return F.size(tokens(col)).cast("bigint")


def char_ngrams(col: str | Column, n: int = 3) -> Column:
    """All character n-grams (with duplicates, in order); empty array
    for strings shorter than n (sequence() would run descending)."""
    c = F.col(col) if isinstance(col, str) else col
    grams = F.transform(
        F.sequence(F.lit(1), F.length(c) - (n - 1)),
        lambda i: c.substr(i, F.lit(n)),
    )
    return F.when(F.length(c) >= n, grams).otherwise(F.array().cast("array<string>"))


def quality_feature_columns(text_col: str = "text") -> dict[str, Column]:
    """The quality features as named Column expressions — append them
    with ``withColumns`` to keep a pipeline single-scan (per-row
    projections never need a self-join)."""
    t = F.col(text_col)
    n_chars = F.length(t).cast("bigint")
    n_words = token_count(text_col)
    punct = (n_chars - F.length(F.regexp_replace(t, r"[.,;:!?]", ""))).cast("bigint")
    digits = (n_chars - F.length(F.regexp_replace(t, r"[0-9]", ""))).cast("bigint")
    upper = (n_chars - F.length(F.regexp_replace(t, r"[A-Z]", ""))).cast("bigint")
    # stopword ratio over lowered space-split tokens (English list —
    # the standard quality signal; near-zero flags non-text/boilerplate)
    toks = F.split(F.lower(t), " ")
    stop_hits = _marker_hits(toks, STOPWORDS)
    return {
        "n_chars_calc": n_chars,
        "n_words": n_words,
        "avg_word_len": F.round(n_chars / F.greatest(n_words, F.lit(1)), 4),
        "punct_ratio": F.round(punct / F.greatest(n_chars, F.lit(1)), 4),
        "digit_ratio": F.round(digits / F.greatest(n_chars, F.lit(1)), 4),
        "upper_ratio": F.round(upper / F.greatest(n_chars, F.lit(1)), 4),
        "stopword_ratio": F.round(stop_hits / F.greatest(n_words, F.lit(1)), 4),
    }


def quality_features(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Deterministic quality-scoring features per document: lengths,
    word stats, punctuation/uppercase/digit ratios — the standard
    cheap pre-filters of an LLM data pipeline."""
    cols = quality_feature_columns(text_col)
    return df.select(
        F.col(id_col), *[c.alias(name) for name, c in cols.items()]
    )


def _marker_hits(toks: Column, words: list[str]) -> Column:
    """Count of tokens equal to a marker word (single split shared
    across languages; expressible identically in DuckDB for the
    oracle via list_filter)."""
    return F.size(F.filter(toks, lambda t: t.isin(words))).cast("bigint")


def lang_id_columns(text_col: str = "text") -> dict[str, Column]:
    """lang_guess / marker_hits as Column expressions over the text
    column (single-scan appendable, like quality_feature_columns)."""
    langs = sorted(LANG_MARKERS)  # earlier code wins ties
    toks = F.split(F.lower(F.col(text_col)), " ")
    # array_max compares structs field-by-field: max hits first, then
    # max preference rank, which is ordered so earlier codes win
    structs = [
        F.struct(
            _marker_hits(toks, LANG_MARKERS[lang]).alias("h"),
            F.lit(len(langs) - 1 - i).alias("r"),
        )
        for i, lang in enumerate(langs)
    ]
    best = F.array_max(F.array(*structs))
    pos = F.lit(len(langs)) - best["r"]  # 1-based index back into langs
    lang_arr = F.array(*[F.lit(code) for code in langs])
    return {
        "lang_guess": F.when(best["h"] > 0, F.element_at(lang_arr, pos)).otherwise(
            F.lit("und")
        ),
        "marker_hits": best["h"],
    }


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-marker language heuristic: the language whose marker
    words occur most (token equality over lowered space-split text);
    ties and zero-evidence fall back to 'und' (undetermined),
    tie-break by language code order.

    Per-language array-filter counts + a single ``array_max`` over
    (hits, preference) structs: the previous form (per-word
    regexp_replace with nested when-chains) generated >64 KB of
    codegen for one projection, forcing janino to bail to interpreted
    evaluation on every execution."""
    cols = lang_id_columns(text_col)
    return df.select(
        F.col(id_col), *[c.alias(name) for name, c in cols.items()]
    )


def word_ngrams(
    col: str | Column, n: int = 2, tokens_col: Column | None = None
) -> Column:
    """Space-joined word n-grams over whitespace tokens (duplicates
    kept, in order); empty array when the document has fewer than
    ``n`` words.

    Column expressions are trees, not DAGs: every ``element_at``
    below embeds its own copy of the token subtree, so passing raw
    text re-runs the regex split ~``n``x per gram position. For big
    scans, materialize the token array in a prior projection and pass
    it as ``tokens_col`` (an attribute reference is free to repeat) —
    measured ~3x faster on the contamination scan at sf0.1."""
    ws = tokens_col if tokens_col is not None else tokens(col)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(ws) - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(ws, i + j) for j in range(n)]
        ),
    )
    return F.when(F.size(ws) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def max_run_count(arr: Column) -> Column:
    """Count of the most frequent element via sort + longest-run fold:
    O(n log n) per row, vs the O(distinct × n) nested-filter form that
    stalls a task on one long mostly-distinct document (r06 review
    finding). Empty AND null arrays count 0 — the null coalesce
    preserves the pre-r06 ``_top_count`` contract that the
    text_repetition DuckDB twin still encodes (coalesce(...,0)), so a
    NULL text document cannot diverge Spark-vs-oracle (r06 advice)."""
    sorted_arr = F.array_sort(arr)
    zero = F.lit(0).cast("bigint")
    state = F.aggregate(
        sorted_arr,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            zero.alias("run"),
            zero.alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1).cast("bigint"))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(
                    F.lit(1).cast("bigint")
                ),
            ).alias("best"),
        ),
    )
    return F.coalesce(state["best"], F.lit(0).cast("bigint"))


def repetition_feature_columns(text_col: str = "text") -> dict[str, Column]:
    """Gopher-style repetition signals as single-scan appendable
    Columns (Rae et al. 2021 §A1.1 use duplicate-line and repeated
    n-gram fractions as quality gates; documents here are one line, so
    the word/n-gram family carries the signal):

    - ``top_word_frac`` — occurrences of the most frequent word over
      total words (boilerplate/keyword-stuffing detector),
    - ``dup_bigram_frac`` — fraction of word 2-grams that are repeats
      of an earlier 2-gram,
    - ``dup_trigram_frac`` — same for word 3-grams,
    - ``max_bigram_count`` — raw count of the most frequent 2-gram.

    All expressions are built-in higher-order functions (JVM codegen);
    the per-row cost is O(distinct × n) on short arrays, no shuffle.
    """
    ws = tokens(text_col)
    n_words = F.size(ws)
    # sort + longest-run (max_run_count): O(n log n) per row; the
    # previous distinct × filter form was quadratic on long
    # mostly-distinct documents
    _top_count = max_run_count

    def _dup_frac(arr: Column) -> Column:
        total = F.size(arr)
        return F.round(
            (total - F.size(F.array_distinct(arr)))
            / F.greatest(total, F.lit(1)),
            4,
        )

    bgs = word_ngrams(text_col, 2)
    tgs = word_ngrams(text_col, 3)
    return {
        "top_word_frac": F.round(
            _top_count(ws) / F.greatest(n_words, F.lit(1)), 4
        ),
        "dup_bigram_frac": _dup_frac(bgs),
        "dup_trigram_frac": _dup_frac(tgs),
        "max_bigram_count": _top_count(bgs),
    }


def repetition_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition/boilerplate signals (see
    :func:`repetition_feature_columns`)."""
    cols = repetition_feature_columns(text_col)
    return df.select(F.col(id_col), *[c.alias(n) for n, c in cols.items()])


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Document fingerprint: md5 over whitespace-normalized lowered
    text — a deterministic content identity for exact-dedup joins."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return df.select(
        F.col(id_col),
        F.md5(norm).alias("fingerprint"),
        F.length(norm).cast("bigint").alias("norm_len"),
    )


def bigram_lm_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-language-model quality signals per document, with NO
    transcendentals so the result is exactly oracle-checkable.

    A real KenLM-style perplexity filter needs an external model; the
    distribution-level signal it exploits — "is this document's
    phrasing typical of the corpus?" — is available from the corpus
    itself as bigram statistics:

    * ``commonness``: mean corpus frequency of the document's word
      bigrams (occurrence-weighted). High = templated/boilerplate
      phrasing; low = rare/odd phrasing. The integer-ratio analogue
      of (negated) cross-entropy under the corpus bigram LM.
    * ``novelty``: fraction of the document's bigram occurrences
      that appear in NO other document. High novelty + low
      commonness flags gibberish; high commonness flags boilerplate
      — the two ends a perplexity filter trims.

    Shape at scale: one partial-aggregatable shuffle to (doc, bigram)
    counts, a second agg to corpus counts (map-side combinable), one
    join on the bigram key (AQE handles hot-bigram skew; the corpus
    count side is vocab²-bounded, not row-bounded), one final doc
    agg. All integer arithmetic until the final two divisions, so
    both engines produce bit-identical doubles. Documents with fewer
    than two tokens have no bigrams and are dropped (documented
    inner semantics).
    """
    norm = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " ")
    w = F.filter(F.split(norm, " "), lambda x: x != "")
    # materialize the token array BEFORE gram construction: column
    # expressions are trees, so word_ngrams over the raw split would
    # re-run the regex per gram position (see word_ngrams docstring;
    # measured 11 s -> ~1 s on the sf0.1 corpus)
    toked = df.select(F.col(id_col), w.alias("__w"))
    bg = word_ngrams(text_col, 2, tokens_col=F.col("__w"))
    exploded = toked.select(F.col(id_col), F.explode(bg).alias("bg"))
    dc = exploded.groupBy(id_col, "bg").agg(F.count(F.lit(1)).alias("dc"))
    corpus = dc.groupBy("bg").agg(F.sum("dc").alias("c"))
    joined = dc.join(corpus, "bg")
    n = F.sum("dc")
    return joined.groupBy(id_col).agg(
        n.cast("bigint").alias("n_bigrams"),
        F.round(
            F.sum(F.col("dc") * F.col("c")).cast("double") / n.cast("double"), 6
        ).alias("commonness"),
        F.round(
            F.sum(
                F.when(F.col("c") == F.col("dc"), F.col("dc")).otherwise(F.lit(0))
            ).cast("double")
            / n.cast("double"),
            6,
        ).alias("novelty"),
    )


# Gopher's required-word rule uses a tiny function-word set (Rae et
# al. 2021 §A1.1: "contains at least 2 of a set of 8 stop words").
# The canonical set below is the paper's; pass ``required_stopwords``
# to adapt it to a corpus (e.g. swapping "be" for "a" on lowercased
# technical text).
GOPHER_REQUIRED_STOPWORDS: list[str] = [
    "the", "be", "to", "of", "and", "that", "have", "with",
]


def gopher_filter_columns(
    text_col: str = "text",
    *,
    min_words: int = 5,
    max_words: int = 100_000,
    required_stopwords: list[str] | None = None,
    min_required_stopwords: int = 2,
) -> dict[str, Column]:
    """Gopher-style composite quality gate (Rae et al. 2021 §A1.1) as
    single-scan appendable Columns: ``n_words``, ``failed_rules``
    (names of violated rules, fixed order), ``keep``.

    Every rule is an INTEGER comparison — ratio thresholds are
    cross-multiplied (mean word length in [3,10] becomes
    ``3·n_words ≤ Σlen ≤ 10·n_words``) so the DuckDB oracle is
    bit-exact with no float rounding contract. Rules:

    - ``few_words`` / ``many_words`` — word count outside
      [min_words, max_words],
    - ``short_words`` / ``long_words`` — mean word length outside
      [3, 10] characters,
    - ``symbol_ratio`` — (# + ellipsis) per word > 0.1,
    - ``low_alpha`` — fewer than 80% of words contain a letter,
    - ``few_stopwords`` — fewer than ``min_required_stopwords``
      distinct hits from the required-word set,
    - ``repeated_top_word`` — most frequent word covers > 20% of the
      document.

    All higher-order built-ins over one token array — per-row
    projection, zero shuffles, scan-speed at 100 TB. Composes with
    :func:`quality_features` / :func:`repetition_features` for
    reporting; this operator is the decision."""
    required = required_stopwords or GOPHER_REQUIRED_STOPWORDS
    t = F.col(text_col)
    ws = tokens(text_col)
    n_words = F.size(ws).cast("bigint")
    tok_chars = F.aggregate(
        ws, F.lit(0).cast("bigint"), lambda a, x: a + F.length(x)
    )
    alpha_words = F.size(
        F.filter(ws, lambda x: x.rlike("[a-zA-Z]"))
    ).cast("bigint")
    hashes = (F.length(t) - F.length(F.regexp_replace(t, "#", ""))).cast(
        "bigint"
    )
    ellipses = (
        (F.length(t) - F.length(F.regexp_replace(t, r"\.\.\.", ""))) / 3
    ).cast("bigint")
    # whitespace-run tokenization like every other rule — a bare
    # single-space split would miss stop words separated by
    # newlines/tabs and wrongly DROP documents (r06 review finding;
    # the reporting features' space-split idiom is not a gate)
    toks_lower = F.split(F.lower(F.trim(t)), r"\s+")
    stop_distinct = F.size(
        F.array_intersect(
            F.array_distinct(toks_lower), F.array(*[F.lit(w) for w in required])
        )
    ).cast("bigint")
    top_count = max_run_count(ws)
    rules = [
        ("few_words", n_words < F.lit(min_words)),
        ("many_words", n_words > F.lit(max_words)),
        ("short_words", tok_chars < 3 * n_words),
        ("long_words", tok_chars > 10 * n_words),
        ("symbol_ratio", 10 * (hashes + ellipses) > n_words),
        ("low_alpha", 5 * alpha_words < 4 * n_words),
        ("few_stopwords", stop_distinct < F.lit(min_required_stopwords)),
        ("repeated_top_word", 5 * top_count > n_words),
    ]
    empty = F.array().cast("array<string>")
    failed = F.concat(
        *[
            F.when(cond, F.array(F.lit(name))).otherwise(empty)
            for name, cond in rules
        ]
    )
    return {
        "n_words": n_words,
        "failed_rules": failed,
        "keep": F.size(failed) == 0,
    }


# the C4 paper's page-level blocklist (Raffel et al. 2020 §2.2):
# boilerplate markers that flag a page as non-natural-language
C4_PAGE_BLOCK_PHRASES: list[str] = ["lorem ipsum", "{"]
# line-level block words: a line mentioning these is navigation /
# script boilerplate, not prose
C4_LINE_BLOCK_WORDS: list[str] = ["javascript"]


def c4_line_filter_columns(
    text_col: str = "text",
    *,
    min_words_per_line: int = 3,
    min_lines: int = 5,
    line_sep: str = "\n",
    line_block_words: list[str] | None = None,
    page_block_phrases: list[str] | None = None,
) -> dict[str, Column]:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2) as
    single-scan appendable Columns: the cleaned ``text`` (surviving
    lines re-joined in original order), ``n_lines_total``,
    ``n_lines_kept``, and the page verdict ``keep``.

    Line rules — a line survives iff ALL hold:

    - ends in a terminal punctuation mark (``.`` ``!`` ``?`` ``"``,
      after right-trim),
    - has at least ``min_words_per_line`` whitespace words,
    - mentions none of ``line_block_words`` (case-insensitive;
      default: the C4 'javascript' rule).

    Page rules — ``keep`` iff at least ``min_lines`` lines survive
    (the paper's ≥5-sentence rule, with kept lines as the sentence
    proxy) and the RAW page contains none of ``page_block_phrases``
    (case-insensitive; default: 'lorem ipsum' and ``{``).

    Everything is higher-order built-ins over one line array — a pure
    per-row projection, zero shuffles, scan-speed at 100 TB. Sister
    operator to the global boilerplate pass
    :func:`~ariadne_spark.operators.corpus.line_dedup` (which needs a
    shuffle because its rule is cross-document); run this one first
    so the shuffle only carries surviving lines. Portable semantics:
    the DuckDB twin expresses every rule with list_filter /
    regexp_matches and is a full value oracle."""
    blocked_words = [
        w.lower()
        for w in (
            line_block_words
            if line_block_words is not None
            else C4_LINE_BLOCK_WORDS
        )
    ]
    phrases = [
        p.lower()
        for p in (
            page_block_phrases
            if page_block_phrases is not None
            else C4_PAGE_BLOCK_PHRASES
        )
    ]
    t = F.col(text_col)
    # \Q...\E quotes the separator: split is LITERAL (like the DuckDB
    # twin's string_split), so a metachar separator can't misparse
    lines = F.split(t, "\\Q" + line_sep + "\\E", -1)

    def line_ok(l: Column) -> Column:
        trimmed = F.trim(l)
        ok = trimmed.rlike('[.!?"]$')
        ok = ok & (
            F.size(F.split(trimmed, r"\s+")) >= F.lit(min_words_per_line)
        )
        low = F.lower(l)
        for w in blocked_words:
            ok = ok & ~low.contains(w)
        return ok

    kept = F.filter(lines, line_ok)
    page_clean = F.lit(True)
    low_t = F.lower(t)
    for p in phrases:
        page_clean = page_clean & ~low_t.contains(p)
    n_kept = F.size(kept).cast("bigint")
    return {
        "text": F.array_join(kept, line_sep),
        "n_lines_total": F.size(lines).cast("bigint"),
        "n_lines_kept": n_kept,
        "keep": page_clean & (n_kept >= F.lit(min_lines)),
    }


def c4_line_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **options,
) -> DataFrame:
    """Per-document C4 cleaning verdict: ``(id, text, n_lines_total,
    n_lines_kept, keep)`` — see :func:`c4_line_filter_columns`.

    Reference parity: like :func:`gopher_filter`, this packages a
    published rule set behind the scalar-expression surface the
    reference exposes (SURVEY.md §2.8) as one deterministic operator
    with an audit trail (line counts + page verdict)."""
    cols = c4_line_filter_columns(text_col, **options)
    return df.select(F.col(id_col), *[c.alias(n) for n, c in cols.items()])


# Unicode-normalization character maps: typographic quotes/dashes and
# NBSP → their ASCII equivalents. Single-codepoint 1:1 mapping so both
# engines' translate() agree.
_PUNCT_FROM = "\u2018\u2019\u201c\u201d\u2013\u2014\u00a0"
_PUNCT_TO = "''\"\"-- "
# C0 controls except \t \n, plus DEL — RE2 and Java regex both accept
# the \x escapes, so the pattern is engine-portable
_CONTROL_PAT = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"


def normalize_text_columns(
    text_col: str = "text", *, nfc_col: Column | None = None
) -> dict[str, Column]:
    """Deterministic text canonicalization as appendable Columns:
    ``text`` (normalized), ``n_chars_before``, ``n_chars_after``,
    ``changed``. Steps, in order:

    1. Unicode NFC composition (combining sequences → precomposed) —
       the ONE Python step, an Arrow-batched pandas UDF over the C
       ``unicodedata`` table (Spark SQL has no NFC built-in); pass a
       pre-computed ``nfc_col`` to share it across operators,
    2. typographic punctuation folding (curly quotes, en/em dash,
       NBSP → ASCII) via ``translate`` — 1:1 codepoint map,
    3. C0-control/DEL strip (tab and newline survive),
    4. whitespace canonicalization: space/tab runs → one space,
       spaces hugging a newline dropped, 3+ newlines → 2, leading/
       trailing SPACES trimmed (both engines' ``trim`` is
       space-only, so a trailing newline survives identically).

    Every step after NFC is a JVM built-in; the UDF is the only
    Python round-trip and is vectorized (one Arrow batch per ~10k
    rows, no per-row pickling). The DuckDB twin mirrors each step
    (``nfc_normalize`` / ``translate`` / global ``regexp_replace``)
    so the whole pipeline — including the UDF — is value-oracled."""
    t = F.col(text_col)
    composed = nfc_col if nfc_col is not None else nfc(t)
    folded = F.translate(composed, _PUNCT_FROM, _PUNCT_TO)
    stripped = F.regexp_replace(folded, _CONTROL_PAT, "")
    ws = F.regexp_replace(stripped, r"[ \t]+", " ")
    ws = F.regexp_replace(ws, r" ?\n ?", "\n")
    ws = F.regexp_replace(ws, r"\n{3,}", "\n\n")
    out = F.trim(ws)
    return {
        "text": out,
        "n_chars_before": F.length(t).cast("bigint"),
        "n_chars_after": F.length(out).cast("bigint"),
        "changed": out != t,
    }


def nfc(col: str | Column) -> Column:
    """Unicode NFC composition of a string column via an Arrow-batched
    pandas UDF (vectorized ``unicodedata.normalize``; NULL-safe)."""
    from pyspark.sql.functions import pandas_udf

    c = F.col(col) if isinstance(col, str) else col

    @pandas_udf("string")
    def _nfc(s):  # pd.Series -> pd.Series
        import unicodedata

        return s.map(
            lambda v: unicodedata.normalize("NFC", v) if v is not None else None
        )

    return _nfc(c)


def normalize_text(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Canonicalize a text column (NFC + punctuation folding +
    control strip + whitespace rules): ``(id, text, n_chars_before,
    n_chars_after, changed)`` — the first pass of every ingest
    pipeline, upstream of hashing/dedup so byte-different renderings
    of the same content collide. See :func:`normalize_text_columns`."""
    cols = normalize_text_columns(text_col)
    return df.select(F.col(id_col), *[c.alias(n) for n, c in cols.items()])


def gopher_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **thresholds,
) -> DataFrame:
    """Per-document Gopher quality verdict: ``(id, n_words,
    failed_rules, keep)`` — see :func:`gopher_filter_columns`.

    Reference parity: the reference exposes scalar quality functions
    through its expression surface (SURVEY.md §2.8); this packages the
    published Gopher rule set as one deterministic operator the way a
    training-data pipeline consumes it (filter + audit trail of WHY a
    document was dropped)."""
    cols = gopher_filter_columns(text_col, **thresholds)
    return df.select(F.col(id_col), *[c.alias(n) for n, c in cols.items()])
