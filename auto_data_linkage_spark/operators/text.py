"""Text-analysis operators for large-scale training-data pipelines.

All hot paths are built-in column expressions (JVM-side, codegen'd) — no
Python UDFs anywhere. Documents are rows in a ``documents(doc_id, text,
lang, source, n_chars)`` table; every operator is a narrow projection or
one aggregation, so they scale linearly with input and parallelize per
partition with zero shuffles unless grouping is requested.

Portability: hashes derive from md5 (identical in Spark and DuckDB), so
every operator here is oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def no_pushdown(cond: Column) -> Column:
    """``cond``, wrapped so the optimizer cannot push the filter below an
    upstream exchange.

    Catalyst pushes deterministic predicates through round-robin
    repartitions — correct, but it undoes the catalog readers'
    read-time repartition (``queries.ensure_parallelism``):
    a compute-heavy gate (regex quality/language scoring) lands BELOW
    the repartition, on the single-partition scan, serializing the
    whole pass on one core (measured: two ~3 s single-task stages in
    curate_documents at sf0.1). Wrapping the condition in a CASE on the
    non-deterministic ``spark_partition_id()`` (identically true — ids
    are non-negative) makes the predicate non-pushable AS A WHOLE (a
    bare conjunct would be split and its deterministic half pushed), so
    the gate runs where the plan says: after the exchange, on every
    core. Row-for-row identical output; on inputs that are already
    parallel the only cost is one integer comparison per row."""
    return F.when(
        F.spark_partition_id() >= F.lit(0), cond
    ).otherwise(F.lit(False))


# BPE-ish token pattern: word pieces, numbers, or single non-space symbols —
# mirrors the common GPT-2-style pre-tokenizer split (public regex idea).
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Small stopword inventories for the language-ID heuristic — the top-10
# function words of each language from the standard public stopword
# lists (NLTK/ISO-639 collections). 15 languages; ties in the argmax
# break toward the alphabetically-earlier code, so overlapping Romance/
# Germanic function words ("de", "la", "en", "in") resolve
# deterministically. zh entries are pinyin romanizations because the
# heuristic is whitespace-token based (matches the synthetic corpus;
# real Chinese text needs a segmenter upstream).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von"),
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es", "se", "no"),
    "fr": ("le", "la", "de", "et", "un", "une", "est", "que", "pour", "dans"),
    "id": ("yang", "dan", "di", "itu", "dengan", "untuk", "tidak", "ini", "dari", "dalam"),
    "it": ("di", "che", "la", "il", "un", "per", "una", "sono", "non", "con"),
    "nl": ("de", "het", "een", "van", "en", "dat", "op", "te", "niet", "zijn"),
    "pl": ("się", "nie", "na", "jest", "do", "to", "że", "z", "co", "jak"),
    "pt": ("de", "que", "o", "do", "da", "em", "um", "para", "não", "com"),
    "ro": ("și", "de", "la", "în", "să", "cu", "pe", "nu", "este", "care"),
    "ru": ("и", "в", "не", "на", "что", "он", "как", "это", "по", "но"),
    "sv": ("och", "det", "att", "i", "en", "som", "på", "är", "av", "för"),
    "tr": ("bir", "ve", "bu", "için", "ile", "ama", "çok", "gibi", "daha", "ben"),
    "vi": ("là", "và", "của", "có", "không", "được", "một", "người", "trong", "cho"),
    "zh": ("de", "shi", "le", "bu", "wo", "you", "zai", "ta", "men", "zhe"),
}


def tokens(text: Column | str) -> Column:
    """Whitespace tokens (lowercased), empty strings removed."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(c), r"\s+"), lambda t: t != "")


def token_count(text: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def bpe_token_count(text: Column | str) -> Column:
    """BPE-ish token count via the pre-tokenizer regex (word pieces +
    numbers + symbols), using ``regexp_count`` — no explode needed."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(TOKEN_PATTERN))


def quality_features(text: Column | str) -> dict[str, Column]:
    """Quality-scoring feature columns: length, token stats, punctuation /
    digit / whitespace / stopword ratios, mean token length."""
    c = F.col(text) if isinstance(text, str) else text
    toks = tokens(c)
    n_tok = F.size(toks)
    n_chars = F.length(c)
    n_punct = F.regexp_count(c, F.lit(r"[^A-Za-z0-9\s]"))
    n_digit = F.regexp_count(c, F.lit(r"[0-9]"))
    en_stop = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(en_stop, t)))
    safe_tok = F.greatest(n_tok, F.lit(1))
    safe_chars = F.greatest(n_chars, F.lit(1))
    return {
        "n_chars_calc": n_chars,
        "n_tokens": n_tok,
        "punct_ratio": n_punct.cast("double") / safe_chars,
        "digit_ratio": n_digit.cast("double") / safe_chars,
        "stopword_ratio": n_stop.cast("double") / safe_tok,
        "mean_token_len": (
            F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)).cast(
                "double"
            )
            / safe_tok
        ),
    }


def quality_score(text: Column | str) -> Column:
    """Composite [0,1] quality score: rewards stopword presence and sane
    token lengths, penalizes punctuation/digit-heavy text. Heuristic in the
    spirit of C4/Gopher quality filters (public recipes)."""
    f = quality_features(text)
    score = (
        F.lit(0.25) * F.least(f["stopword_ratio"] * 4, F.lit(1.0))
        + F.lit(0.25) * (F.lit(1.0) - F.least(f["punct_ratio"] * 5, F.lit(1.0)))
        + F.lit(0.25) * (F.lit(1.0) - F.least(f["digit_ratio"] * 5, F.lit(1.0)))
        + F.lit(0.25)
        * F.when(
            (f["mean_token_len"] >= 3) & (f["mean_token_len"] <= 10), 1.0
        ).otherwise(0.0)
    )
    return score


def lang_scores(text: Column | str) -> dict[str, Column]:
    """Per-language stopword hit counts (the n-gram/stopword heuristic)."""
    toks = tokens(text)
    out = {}
    for lang, words in LANG_STOPWORDS.items():
        arr = F.array(*[F.lit(w) for w in words])
        out[lang] = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
    return out


def lang_id(text: Column | str, *, min_hits: int = 2) -> Column:
    """Predicted language = argmax stopword hits, ``und`` when the best
    language scores fewer than ``min_hits`` hits. Ties break by language
    code order (deterministic; overlapping function words like "de"/"la"
    resolve to the alphabetically-earlier code).

    ``min_hits`` is the evidence floor, default 2: ONE incidental
    function-word hit ("a", "in", a code identifier) must not commit a
    language — below the floor the honest answer is ``und``. Pass 1 for
    the label-anything behavior on long well-evidenced prose (where two
    hits of the true language are all but guaranteed anyway), or 3+ for
    corpora of very short noisy snippets. The SQL oracle mirror
    (queries_llm._lang_pred_parts) carries the same default — change
    them together."""
    scores = lang_scores(text)
    pairs = F.array(
        *[
            F.struct(F.lit(lang).alias("lang"), s.alias("hits"))
            for lang, s in sorted(scores.items())
        ]
    )
    best = F.aggregate(
        pairs,
        F.struct(F.lit("und").alias("lang"), F.lit(int(min_hits) - 1).alias("hits")),
        lambda acc, x: F.when(x["hits"] > acc["hits"], x).otherwise(acc),
    )
    return best["lang"]


def doc_fingerprint(text: Column | str, *, normalize: bool = True) -> Column:
    """Whole-document fingerprint: md5 of whitespace-normalized lowercase
    text — the exact-dedup key. md5 is identical across engines."""
    c = F.col(text) if isinstance(text, str) else text
    if normalize:
        c = F.regexp_replace(F.lower(c), r"\s+", " ")
        c = F.trim(c)
    return F.md5(c)


def shingles(text: Column | str, k: int = 3) -> Column:
    """Distinct word k-shingles (arrays of k consecutive tokens joined by a
    space) — the unit set for MinHash / Jaccard document similarity."""
    toks = tokens(text)
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
    )


def md5_hash64(col: Column, seed: int = 0) -> Column:
    """Portable 60-bit hash: first 15 hex chars of md5(seed || value).
    Identical in DuckDB via CAST(CONCAT('0x', SUBSTR(md5(...),1,15)) AS
    BIGINT). Used where cross-engine hash equality matters; xxhash64 is
    faster but Spark-only."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(str(seed) + "|"), col)), 1, 15), 16, 10
    ).cast("bigint")


def rolling_fingerprints(text: Column | str, k: int = 3, keep: int = 4) -> Column:
    """Winnowing-style document signature: the ``keep`` smallest shingle
    hashes (a deterministic subset that near-identical docs share). For
    the positional guarantee use :func:`winnow_select`."""
    sh = shingles(text, k)
    hashed = F.transform(sh, lambda s: md5_hash64(s))
    return F.slice(F.array_sort(hashed), 1, keep)


def winnow_select(text: Column | str, k: int = 3, w: int = 4) -> Column:
    """True winnowing (Schleimer et al., SIGMOD'03 — public algorithm):
    hash the POSITIONAL k-shingles (order kept, duplicates kept), slide a
    window of ``w`` consecutive hashes, keep each window's minimum, return
    the distinct selected hashes. Any shared token run of length ≥
    ``w + k - 1`` between two documents is guaranteed to contribute at
    least one shared fingerprint — the coverage property the global
    "k smallest" subset cannot give. Pure built-ins; documents shorter
    than one window contribute their overall minimum."""
    c = F.col(text) if isinstance(text, str) else text
    toks = tokens(c)
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    hs = F.transform(
        idx, lambda i: md5_hash64(F.concat_ws(" ", F.slice(toks, i + 1, k)))
    )
    wins = F.sequence(F.lit(1), F.greatest(F.size(hs) - (w - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(wins, lambda j: F.array_min(F.slice(hs, j, w)))
    )


def add_text_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Convenience: attach all text-analysis columns to a documents table."""
    feats = quality_features(text_col)
    return df.select(
        "*",
        token_count(text_col).alias("n_tokens"),
        bpe_token_count(text_col).alias("n_bpe_tokens"),
        F.round(quality_score(text_col), 6).alias("quality"),
        lang_id(text_col).alias("lang_pred"),
        doc_fingerprint(text_col).alias("fingerprint"),
        F.round(feats["punct_ratio"], 6).alias("punct_ratio"),
        F.round(feats["stopword_ratio"], 6).alias("stopword_ratio"),
    )


# ------------------------------------------------------- repetition/PII
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s]+"


def repetition_features(text: Column | str) -> dict[str, Column]:
    """Repetition signals for corpus filtering (the Gopher-style
    duplicate-content heuristics, public): distinct-token ratio, the most
    common token's share, and the most common bigram's share. High top-*
    shares flag template/boilerplate text. Pure array built-ins — the
    per-row cost is O(distinct · n), fine for document-sized rows and
    fully inside codegen (no shuffle, no UDF)."""
    c = F.col(text) if isinstance(text, str) else text
    toks = tokens(c)
    n = F.size(toks)
    distinct_ratio = F.when(
        n > 0, F.size(F.array_distinct(toks)) / n
    ).otherwise(F.lit(0.0))

    def top_share(arr: Column, denom: Column) -> Column:
        counts = F.transform(
            F.array_distinct(arr),
            lambda t: F.size(F.filter(arr, lambda x: x == t)),
        )
        return F.when(
            denom > 0,
            F.array_max(counts).cast("double") / denom,
        ).otherwise(F.lit(0.0))

    idx = F.sequence(F.lit(0), F.greatest(n - 2, F.lit(0)))
    bigrams = F.when(n >= 2, F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 2))
    )).otherwise(F.array().cast("array<string>"))
    return {
        "distinct_ratio": distinct_ratio,
        "top_token_share": top_share(toks, n.cast("double")),
        "top_bigram_share": top_share(
            bigrams, F.greatest(n - 1, F.lit(0)).cast("double")
        ),
    }


def pii_scrub(text: Column | str) -> dict[str, Column]:
    """Count and mask emails/URLs — the standard pre-training scrub pass.
    Masking is regexp_replace with stable placeholder tokens so
    downstream dedup/fingerprints see identical text for identical
    non-PII content."""
    c = F.col(text) if isinstance(text, str) else text
    masked = F.regexp_replace(
        F.regexp_replace(c, F.lit(EMAIL_RE), F.lit("[EMAIL]")),
        F.lit(URL_RE),
        F.lit("[URL]"),
    )
    return {
        "n_emails": F.regexp_count(c, F.lit(EMAIL_RE)),
        "n_urls": F.regexp_count(c, F.lit(URL_RE)),
        "masked": masked,
    }


def normalize_text(
    df,
    text_col: str = "text",
    *,
    form: str = "NFC",
    lowercase: bool = False,
    collapse_ws: bool = True,
    strip_controls: bool = True,
    out_col: str = "norm_text",
):
    """Unicode normalization for ingest-time canonicalization: apply the
    chosen normal form (NFC/NFKC/NFD/NFKD), optionally strip C0/C1
    control characters, collapse whitespace runs, and lowercase.
    Composed vs decomposed encodings of the same glyph ("é" as one
    codepoint vs "e"+combining-accent) otherwise defeat exact dedup,
    content-hash ids, and shingle matching.

    The normal form itself has no Spark built-in, so that one step is an
    Arrow-batched pandas UDF over Python's unicodedata (batch transfer,
    not per-row py4j); the cheap cleanups stay declarative around it.
    ASCII-only corpora short-circuit inside unicodedata (NFC of ASCII is
    the identity) — the UDF cost is the Arrow copy, ~scan-bound."""
    from pyspark.sql import types as T_

    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normal form {form!r}")

    @F.pandas_udf(T_.StringType())
    def norm(s):
        import unicodedata

        return s.map(
            lambda t: unicodedata.normalize(form, t) if t is not None else None
        )

    c = norm(F.col(text_col))
    if strip_controls:
        c = F.regexp_replace(c, r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f]", "")
    if collapse_ws:
        c = F.trim(F.regexp_replace(c, r"\s+", " "))
    if lowercase:
        c = F.lower(c)
    return df.withColumn(out_col, c)


def gopher_rules(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    required_stopwords: tuple[str, ...] = (
        "the", "be", "to", "of", "and", "that", "have", "with",
    ),
    min_required: int = 2,
) -> DataFrame:
    """Gopher document-level quality rules (Rae et al. 2021, public
    recipe) as one codegen projection — the standard pre-training corpus
    gate, complementing the soft :func:`quality_score`:

    - word count in ``[min_words, max_words]``;
    - mean word length in [3, 10] characters;
    - symbol-to-word ratio ('#' occurrences + ellipses) ≤ 0.1;
    - ≤ 90% of lines start with a bullet; ≤ 30% end with an ellipsis
      (the paper's thresholds — DataTrove/Dolma/NeMo reimplementations
      use the same 0.9 / 0.3 constants);
    - ≥ 80% of words contain an alphabetic character;
    - ≥ ``min_required`` distinct words from ``required_stopwords``
      (the paper's English set by default — swap the inventory for
      other languages or non-prose corpora; the rule STRUCTURE is
      language-independent, the word list is not).

    Returns ``(id, n_words, <rule booleans>, keep)``. Every threshold is
    evaluated in INTEGER arithmetic (``10·symbols ≤ n_words`` instead of
    ``symbols/n_words ≤ 0.1``), so the booleans are bit-exact across
    engines and floating-point-free. One scan, zero shuffles, zero UDFs.
    """
    c = F.col(text_col)
    toks = tokens(c)
    n_words = F.size(toks)
    total_chars = F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t))
    n_symbols = F.regexp_count(c, F.lit("#")) + F.regexp_count(
        c, F.lit(r"(\.\.\.|…)")
    )
    lines = F.filter(F.split(c, "\n"), lambda l: F.trim(l) != "")
    n_lines = F.size(lines)
    n_bullet = F.size(
        F.filter(lines, lambda l: F.trim(l).rlike(r"^[•\-\*]"))
    )
    n_ellipsis = F.size(
        F.filter(lines, lambda l: F.trim(l).rlike(r"(\.\.\.|…)$"))
    )
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    required = F.array(*[F.lit(w) for w in required_stopwords])
    n_req = F.size(F.array_intersect(F.array_distinct(toks), required))

    word_count_ok = (n_words >= min_words) & (n_words <= max_words)
    mean_len_ok = (total_chars >= 3 * n_words) & (total_chars <= 10 * n_words)
    symbol_ok = 10 * n_symbols <= n_words
    bullet_ok = 10 * n_bullet <= 9 * n_lines
    ellipsis_ok = 10 * n_ellipsis <= 3 * n_lines
    alpha_ok = 5 * n_alpha >= 4 * n_words
    stopword_ok = n_req >= min_required

    out = df.select(
        F.col(id_col),
        n_words.cast("int").alias("n_words"),
        word_count_ok.alias("word_count_ok"),
        mean_len_ok.alias("mean_len_ok"),
        symbol_ok.alias("symbol_ok"),
        bullet_ok.alias("bullet_ok"),
        ellipsis_ok.alias("ellipsis_ok"),
        alpha_ok.alias("alpha_ok"),
        stopword_ok.alias("stopword_ok"),
    )
    keep = (
        F.col("word_count_ok")
        & F.col("mean_len_ok")
        & F.col("symbol_ok")
        & F.col("bullet_ok")
        & F.col("ellipsis_ok")
        & F.col("alpha_ok")
        & F.col("stopword_ok")
    )
    return out.withColumn("keep", keep)


def c4_clean(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_line_words: int = 5,
    min_kept_lines: int = 3,
) -> DataFrame:
    """C4 cleaning rules (Raffel et al. 2020, public recipe) as one
    codegen projection — the line-and-page gate applied to Common
    Crawl before T5 training:

    - keep only lines that end in terminal punctuation
      (``. ! ? "`` or the closing curly quote);
    - drop lines with fewer than ``min_line_words`` words;
    - drop lines containing the word "javascript" (case-insensitive);
    - drop the whole page if it contains "lorem ipsum" or a curly
      brace ``{`` anywhere, or if fewer than ``min_kept_lines`` lines
      survive.

    Returns ``(id, n_lines, n_kept, clean_text, keep)`` — surviving
    lines reassembled in order; ``keep`` is the page-level verdict.
    Deduplication (C4's three-sentence-span rule) is NOT here — compose
    with :func:`dedup.span_dedup` / :func:`dedup.line_dedup`, which
    implement it corpus-wide. Zero shuffles, zero UDFs; all counting in
    integers.
    """
    c = F.col(text_col)
    lines = F.filter(
        F.transform(F.split(c, "\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )
    good = F.filter(
        lines,
        lambda l: l.rlike(r'[.!?"”]$')
        & (F.size(F.split(l, r"\s+")) >= min_line_words)
        & ~F.lower(l).contains("javascript"),
    )
    n_kept = F.size(good)
    page_ok = (
        ~F.lower(c).contains("lorem ipsum")
        & ~c.contains("{")
        & (n_kept >= min_kept_lines)
    )
    return df.select(
        F.col(id_col),
        F.size(lines).cast("int").alias("n_lines"),
        n_kept.cast("int").alias("n_kept"),
        F.array_join(good, "\n").alias("clean_text"),
        page_ok.alias("keep"),
    )


# --------------------------------------------- Gopher repetition rules
def _run_char_stats(sorted_expr: str, overhead: int) -> Column:
    """Over a SORTED string array (given as a SQL expression string),
    one pass computing ``(top, dup)``: ``top`` = max over distinct
    values OCCURRING AT LEAST TWICE of (occurrences × char length) — a
    unique value is not repetition, and without the ≥2 floor any short
    document whose top n-gram alone exceeds the threshold fraction of
    its characters (i.e. most short documents) would be removed;
    ``dup`` = total char length of every occurrence BEYOND the first
    of its value. ``overhead`` chars per element (the join separators)
    are excluded from lengths. A single SQL-text ``aggregate`` with a
    struct accumulator — O(m) after the O(m log m) sort, all inside
    codegen, no shuffle, no explode. SQL text rather than Python
    lambdas: thirteen of these in one projection cost ~2.7 s of py4j
    Column construction per invocation in lambda form (measured — the
    same plan-build tax as the centroid aggregates, commit d43cec0)
    and ~0.1 s as strings."""
    glen = f"CAST(length(g) - {overhead} AS BIGINT)"
    return F.expr(f"""
        aggregate(
            {sorted_expr},
            named_struct('prev', '', 'run', CAST(0 AS BIGINT),
                         'top', CAST(0 AS BIGINT), 'dup', CAST(0 AS BIGINT)),
            (acc, g) -> named_struct(
                'prev', g,
                'run', CASE WHEN acc.prev = g THEN acc.run + {glen}
                            ELSE {glen} END,
                'top', CASE WHEN acc.prev = g
                            THEN greatest(acc.top, acc.run + {glen})
                            ELSE acc.top END,
                'dup', acc.dup + CASE WHEN acc.prev = g THEN {glen}
                                      ELSE CAST(0 AS BIGINT) END),
            acc -> named_struct('top', acc.top, 'dup', acc.dup))
    """)


def _ngrams(toks_expr: str, n: int) -> str:
    """SQL expression string: space-joined word n-grams; empty array
    when the document has fewer than ``n`` tokens (no partial grams —
    Rae'21's convention)."""
    return (
        f"CASE WHEN size({toks_expr}) >= {n} THEN "
        f"transform(sequence(0, size({toks_expr}) - {n}), "
        f"i -> array_join(slice({toks_expr}, i + 1, {n}), ' ')) "
        f"ELSE array() END"
    )


def gopher_repetition_rules(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The REPETITION half of the Gopher quality recipe (Rae et al.
    2021 Table A1 — :func:`gopher_rules` is the document-rule half;
    compose both for the full "Gopher-filtered" gate). A document is
    removed when any of:

    - duplicate line / paragraph fraction > 0.30;
    - duplicate line / paragraph CHARACTER fraction > 0.20
      (characters in occurrences beyond the first — the DataTrove /
      Dolma reading of the paper's definition);
    - top 2- / 3- / 4-gram character fraction > 0.20 / 0.18 / 0.16
      (all occurrences of the most frequent n-gram, counted only when
      it occurs at least twice — the Dolma reading: a unique n-gram is
      not repetition, and counting it would auto-remove short
      documents whose top gram alone exceeds the fraction);
    - duplicated 5-…10-gram character fraction > 0.15 / 0.14 / 0.13 /
      0.12 / 0.11 / 0.10 (occurrences beyond the first).

    Character fractions are over token characters (separator chars
    excluded) so the ratios are integer-exact: every threshold is
    evaluated as ``a·x ≤ b·total`` in BIGINT arithmetic — bit-equal
    across engines, no floating point anywhere. Returns ``(id,
    <rule booleans>, keep)``.

    Plan shape: one projection per document — n-gram construction is
    ``sequence``/``slice``, the per-n statistics are one sorted-array
    aggregate each (:func:`_run_char_stats`) — zero shuffles, zero
    UDFs, zero explodes; the whole gate rides the corpus scan.
    """
    c = F.col(text_col)
    # tokenize/split ONCE in a first projection: embedding the regex
    # split into all nine gram builders would duplicate the expression
    # tree ~10× — runtime CSE aside, the optimizer/codegen cost of the
    # duplicated lambdas dominated the first invocation (measured ~3×
    # the steady-state run time)
    pre = df.select(
        F.col(id_col),
        tokens(c).alias("__toks"),
        F.filter(
            F.transform(F.split(c, "\n"), lambda l: F.trim(l)),
            lambda l: l != "",
        ).alias("__lines"),
        F.filter(
            F.transform(F.split(c, r"\n{2,}"), lambda p: F.trim(p)),
            lambda p: p != "",
        ).alias("__paras"),
    )
    def _charsum(expr: str) -> Column:
        return F.expr(
            f"aggregate({expr}, CAST(0 AS BIGINT), "
            f"(a, x) -> a + length(x))"
        )

    out = pre.select(
        F.col(id_col),
        _charsum("__toks").alias("__tc"),
        F.size("__lines").cast("long").alias("__nl"),
        F.size(F.array_distinct("__lines")).cast("long").alias("__ndl"),
        _charsum("__lines").alias("__lc"),
        _run_char_stats("array_sort(__lines)", 0).alias("__ls"),
        F.size("__paras").cast("long").alias("__np"),
        F.size(F.array_distinct("__paras")).cast("long").alias("__ndp"),
        _charsum("__paras").alias("__pc"),
        _run_char_stats("array_sort(__paras)", 0).alias("__ps"),
        *[
            _run_char_stats(
                f"array_sort({_ngrams('__toks', n)})", n - 1
            ).alias(f"__g{n}")
            for n in range(2, 11)
        ],
    )

    # integer-exact threshold forms: frac(x/t) <= p/q  ⇔  q·x <= p·t
    rules = {
        "dup_line_ok": 10 * (F.col("__nl") - F.col("__ndl"))
        <= 3 * F.col("__nl"),
        "dup_para_ok": 10 * (F.col("__np") - F.col("__ndp"))
        <= 3 * F.col("__np"),
        "dup_line_char_ok": 5 * F.col("__ls.dup") <= F.col("__lc"),
        "dup_para_char_ok": 5 * F.col("__ps.dup") <= F.col("__pc"),
        "top_2gram_ok": 5 * F.col("__g2.top") <= F.col("__tc"),
        "top_3gram_ok": 50 * F.col("__g3.top") <= 9 * F.col("__tc"),
        "top_4gram_ok": 25 * F.col("__g4.top") <= 4 * F.col("__tc"),
        "dup_5gram_ok": 20 * F.col("__g5.dup") <= 3 * F.col("__tc"),
        "dup_6gram_ok": 50 * F.col("__g6.dup") <= 7 * F.col("__tc"),
        "dup_7gram_ok": 100 * F.col("__g7.dup") <= 13 * F.col("__tc"),
        "dup_8gram_ok": 25 * F.col("__g8.dup") <= 3 * F.col("__tc"),
        "dup_9gram_ok": 100 * F.col("__g9.dup") <= 11 * F.col("__tc"),
        "dup_10gram_ok": 10 * F.col("__g10.dup") <= F.col("__tc"),
    }
    out = out.select(
        F.col(id_col), *[expr.alias(name) for name, expr in rules.items()]
    )
    keep = None
    for name in rules:
        keep = F.col(name) if keep is None else keep & F.col(name)
    return out.withColumn("keep", keep)


# --------------------------------------------------------------- HTML
# Named entities every crawl pipeline must decode; numeric character
# references (&#NN;) have no Spark/DuckDB built-in that maps an int to
# its codepoint inside a regexp pass, so they are intentionally left
# as-is (documented contract — run normalize_text or a decode UDF when
# a corpus is entity-heavy).
_HTML_ENTITIES = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&amp;", "&"),  # LAST: earlier decodes must not re-expose e.g. &amp;lt;
)
# tags whose content is not prose: drop element + contents entirely.
# One pattern PER TAG, applied in this order — a single alternation
# would need a backreference to force the matching close tag, which
# RE2 (the DuckDB oracle's engine) does not support; per-tag passes
# keep both engines on the identical chain.
_HTML_DROP_TAGS = ("script", "style", "noscript", "template")
_HTML_DROP_CONTENT = [
    rf"(?is)<{t}\b[^>]*>.*?</{t}\s*>" for t in _HTML_DROP_TAGS
]
_HTML_COMMENT = r"(?s)<!--.*?-->"
# block-level boundaries become newlines so paragraph structure survives
# for the line/paragraph operators downstream (line_dedup, gopher rules)
_HTML_BLOCK = (
    r"(?i)</?(p|div|br|li|ul|ol|tr|td|th|table|h[1-6]|blockquote|section|"
    r"article|header|footer|pre|form)\b[^>]*/?>"
)
_HTML_TAG = r"(?s)<[^>]+>"


def html_to_text(html: Column | str) -> Column:
    """Plain text from raw HTML — the first step of every web-crawl
    pipeline (the C4/CCNet extraction stage), as a pure codegen regexp
    chain (zero shuffle, no UDF): drop script/style/noscript/template
    subtrees and comments, turn block-level tags into newlines, strip
    remaining tags, decode the common named entities, and collapse
    horizontal whitespace (newlines survive for the line-level
    operators downstream).

    This is the honest regex tier of extraction — boilerplate REMOVAL
    (nav/ads) is the separate, frequency-based
    :func:`~auto_data_linkage_spark.operators.dedup.strip_boilerplate`
    pass, matching how published pipelines layer the two.
    """
    c = F.col(html) if isinstance(html, str) else html
    out = c
    for pat in _HTML_DROP_CONTENT:
        out = F.regexp_replace(out, F.lit(pat), F.lit(""))
    out = F.regexp_replace(out, F.lit(_HTML_COMMENT), F.lit(""))
    out = F.regexp_replace(out, F.lit(_HTML_BLOCK), F.lit("\n"))
    out = F.regexp_replace(out, F.lit(_HTML_TAG), F.lit(" "))
    for ent, rep in _HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    out = F.regexp_replace(out, F.lit(r"[ \t\x0b\f\r]+"), F.lit(" "))
    out = F.regexp_replace(out, F.lit(r" ?\n ?"), F.lit("\n"))
    out = F.regexp_replace(out, F.lit(r"\n{2,}"), F.lit("\n"))
    out = F.regexp_replace(out, F.lit(r"^\n+|\n+$"), F.lit(""))
    return F.trim(out)


def html_signals(html: Column | str) -> dict[str, Column]:
    """Extraction-quality signals on the RAW html (computed before
    stripping, so gates can drop chrome-heavy pages cheaply):
    ``tag_density`` (tag chars / total), ``n_links``, ``script_chars``.
    High tag density or link count with little surviving text is the
    classic nav/spam page signature."""
    c = F.col(html) if isinstance(html, str) else html
    tag_chars = F.length(c) - F.length(
        F.regexp_replace(c, F.lit(_HTML_TAG), F.lit(""))
    )
    return {
        "tag_density": F.round(
            tag_chars.cast("double") / F.greatest(F.length(c), F.lit(1)), 6
        ),
        "n_links": F.regexp_count(c, F.lit(r"(?i)<a\b")),
        "script_chars": F.length(c) - F.length(
            F.regexp_replace(c, F.lit(_HTML_DROP_CONTENT[0]), F.lit(""))
        ),
    }


def extract_html(
    df: DataFrame,
    html_col: str = "html",
    *,
    out_col: str = "text",
    keep_signals: bool = True,
) -> DataFrame:
    """Dataframe form of :func:`html_to_text` + :func:`html_signals`:
    one zero-shuffle projection producing the extracted text column
    (and, by default, the quality signals) alongside the input's other
    columns, ready for the curation pipeline's quality/lang/dedup
    stages."""
    sig = html_signals(F.col(html_col)) if keep_signals else {}
    return df.select(
        *[c for c in df.columns if c != html_col],
        html_to_text(F.col(html_col)).alias(out_col),
        *[expr.alias(name) for name, expr in sig.items()],
    )


def fix_mojibake_str(t: str | None, max_rounds: int = 2) -> str | None:
    """Pure-Python mojibake repair (the per-string reference the Spark
    UDF maps; exported so tests can pin the two paths equal).

    Repairs the single most common real-world corruption: UTF-8 bytes
    re-decoded as cp1252/latin-1 ("é" → "Ã©", "'" → "â€™" — the C3/C2/
    E2-lead-byte signature every crawl contains). A string is touched
    ONLY when (a) it matches the telltale pattern and (b) re-encoding
    as cp1252 (latin-1 for the five cp1252 holes) and decoding as UTF-8
    round-trips cleanly — anything else is returned unchanged, so
    legitimate text that merely LOOKS suspicious ("Ã" as a real word in
    Portuguese contexts) survives unless the full string is consistent
    mojibake. ``max_rounds`` unwinds double-encoded text ("Ã©" encoded
    twice) by repeating until a pass changes nothing."""
    import re

    hint = re.compile(_MOJIBAKE_HINT_RE)
    if t is None or not hint.search(t):
        return t

    def to_bytes(s: str) -> bytes | None:
        # "sloppy cp1252": cp1252 where defined, raw latin-1 for the
        # five cp1252 holes (0x81 8D 8F 90 9D come through Windows-style
        # decoders as C1 controls) — the inverse of how the corruption
        # actually happened. Any char outside both -> not mojibake.
        out = bytearray()
        for ch in s:
            try:
                out += ch.encode("cp1252")
            except UnicodeEncodeError:
                o = ord(ch)
                if o < 256:
                    out.append(o)
                else:
                    return None
        return bytes(out)

    for _ in range(max_rounds):
        raw = to_bytes(t)
        if raw is None:
            return t
        try:
            fixed = raw.decode("utf-8")
        except UnicodeDecodeError:
            return t
        if fixed == t:
            return t
        t = fixed
        if not hint.search(t):
            return t
    return t


#: UTF-8 lead bytes seen through a cp1252/latin-1 lens: Â/Ã (C2/C3),
#: â€ (E2 80 — curly quotes/dashes), plus the C4-C5 Latin-Extended and
#: CE/CF Greek leads. One of these followed by anything is the
#: mojibake signature (the encode/decode round-trip is the real gate;
#: the hint only keeps clean rows out of the UDF).
_MOJIBAKE_HINT_RE = "[ÂÃÄÅÎÏ].|â.."


def fix_mojibake(
    df: DataFrame,
    text_col: str = "text",
    *,
    out_col: str | None = None,
    max_rounds: int = 2,
) -> DataFrame:
    """Repair UTF-8-as-cp1252 mojibake in a text column (the ftfy-lite
    pass every web-crawl pipeline runs before quality scoring — token
    and stopword statistics are garbage on "donâ€™t"-style text).

    Conservative by construction: see :func:`fix_mojibake_str` for the
    touch conditions. The declarative ``rlike`` hint NULLs the UDF's
    input for clean rows BEFORE the Arrow boundary (Spark extracts
    Python UDFs out of CASE WHEN and evaluates them unconditionally,
    so gating the INPUT — nulls ship as bitmap bits, not text bytes —
    is what actually keeps clean corpora out of the Python worker; the
    repaired column then coalesces back over the original).

    No DuckDB oracle (encode/decode round-trips are not
    SQL-expressible); the UDF is pinned equal to the pure-Python
    reference and against hand-built corruption fixtures in
    tests/test_text.py."""
    from pyspark.sql import types as T_

    @F.pandas_udf(T_.StringType())
    def _fix(s):
        return s.map(
            lambda t: fix_mojibake_str(t, max_rounds) if t is not None
            else None
        )

    c = F.col(text_col)
    hint = c.isNotNull() & c.rlike(_MOJIBAKE_HINT_RE)
    fixed = F.coalesce(_fix(F.when(hint, c)), c)
    return df.withColumn(out_col or text_col, fixed)
