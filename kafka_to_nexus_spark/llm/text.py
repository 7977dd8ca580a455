"""Text analysis: language ID (stopword n-gram heuristic), quality scoring,
token counting, document fingerprinting — all JVM-side expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword profiles (heuristic language ID).
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "is", "to", "in"],
    "es": ["el", "la", "de", "los", "y", "es", "en"],
    "de": ["der", "die", "das", "und", "ist", "von", "zu"],
    "fr": ["le", "la", "de", "les", "et", "est", "en"],
    "zh": ["的", "是", "了", "在", "和"],
}


def tokens(text: Column) -> Column:
    return F.split(text, " ")


def stopword_hits(text: Column, words: list[str]) -> Column:
    toks = tokens(F.lower(text))
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword heuristics → one quality column.
    Mirrors common pretraining-corpus filters (doc length, symbol ratio,
    stopword presence)."""
    text = F.col(text_col)
    toks = tokens(text)
    n_tokens = F.size(toks)
    n_chars = F.length(text)
    punct = F.length(F.regexp_replace(text, r"[^\.,;:!\?]", ""))
    stop = stopword_hits(text, LANG_STOPWORDS["en"])
    return df.select(
        "*",
        n_tokens.alias("n_tokens"),
        (n_chars / F.greatest(n_tokens, F.lit(1))).alias("avg_token_len"),
        (punct / F.greatest(n_chars, F.lit(1))).alias("punct_ratio"),
        (stop / F.greatest(n_tokens, F.lit(1))).alias("stopword_ratio"),
        (
            F.when(n_tokens < 5, 0.0)
            .otherwise(
                F.least(
                    F.lit(1.0),
                    0.5 * (stop / F.greatest(n_tokens, F.lit(1)))
                    + 0.5 * (1 - punct / F.greatest(n_chars, F.lit(1))),
                )
            )
        ).alias("quality"),
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Predict language by max stopword-profile hits (deterministic
    tie-break on language code)."""
    text = F.col(text_col)
    scores = F.array(
        *[
            F.struct(
                stopword_hits(text, words).alias("score"),
                F.lit(-1 * i).alias("prio"),
                F.lit(lang).alias("lang"),
            )
            for i, (lang, words) in enumerate(sorted(LANG_STOPWORDS.items()))
        ]
    )
    best = F.array_max(scores)
    return df.select("*", best["lang"].alias("predicted_lang"), best["score"].alias("lang_score"))


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Normalized content fingerprint (lower + strip non [a-z ] + md5) —
    engine-portable and stable under cosmetic edits."""
    return df.select(
        F.col(id_col),
        F.md5(F.regexp_replace(F.lower(F.col(text_col)), "[^a-z ]", "")).alias("fingerprint"),
    )


def rolling_hash_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    keep_every: int = 16,
) -> DataFrame:
    """Winnowing-style sparse fingerprints: hash every ``window``-gram,
    keep hashes ≡ 0 (mod keep_every) — the classic content-defined
    sampling used for fuzzy duplicate detection at corpus scale."""
    text = F.lower(F.col(text_col))
    n = F.greatest(F.length(text) - (window - 1), F.lit(1))
    grams = F.transform(F.sequence(F.lit(1), n), lambda i: F.substring(text, i, window))
    hashes = F.transform(grams, lambda g: F.xxhash64(g))
    kept = F.filter(hashes, lambda h: (h % keep_every) == 0)
    return df.select(F.col(id_col), kept.alias("fingerprints"))


# --------------------------------------------------------------------------
# PII scrubbing — regex redaction, entirely JVM-side (no UDF)
# --------------------------------------------------------------------------

# Conservative patterns that parse identically under Java regex and RE2:
# no backreferences, no lookaround.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    # international (+CC ...), separator-structured (555-867-5309,
    # (555) 123-4567), or a bare 9-11 digit run (unformatted national
    # numbers / SSN-like ids). Deliberately NOT digits+whitespace runs:
    # \s-joined digit GROUPS match numeric prose and tables ("1999 2004
    # 2008") and would scrub real content to [PHONE].
    "phone": r"\+[0-9][0-9()\- ]{6,}[0-9]|\(?[0-9]{3,4}\)?[ \-.][0-9]{3}[\-.][0-9]{4}|\b[0-9]{9,11}\b",
    "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
    "url": r"https?://[^\s]+",
}


def scrub_pii(
    df: DataFrame,
    text_col: str = "text",
    kinds: tuple[str, ...] = ("email", "phone", "ipv4", "url"),
) -> DataFrame:
    """Redact PII-shaped spans to ``[<KIND>]`` tokens and count them.
    One narrow map stage: chained ``regexp_replace``/``regexp_count``
    inside whole-stage codegen — the shape that survives 100 TB (the
    regex engine is the constant factor, not a shuffle)."""
    out = df
    scrubbed = F.col(text_col)
    for kind in kinds:
        pat = PII_PATTERNS[kind]
        out = out.withColumn(
            f"n_{kind}", F.regexp_count(F.col(text_col), F.lit(pat))
        )
        scrubbed = F.regexp_replace(scrubbed, pat, f"[{kind.upper()}]")
    return out.withColumn("scrubbed_text", scrubbed)


# ---------------------------------------------------------------------------
# L42 — document chunking with overlap: the context-window splitter that
# precedes tokenize-and-pack in a training pipeline. One narrow codegen
# map (split + sequence + slice) and one posexplode — no shuffle, no UDF;
# chunk count per doc is ceil((n - overlap) / (size - overlap)).
# ---------------------------------------------------------------------------

def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 128,
    overlap_tokens: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into whitespace-token chunks of
    ``chunk_tokens`` with ``overlap_tokens`` of overlap between
    consecutive chunks. Output: one row per (doc, chunk) with the chunk
    text, its index, token count, and starting token offset. A document
    shorter than one chunk yields exactly one chunk; the final chunk
    keeps the tail (it may be shorter than ``chunk_tokens``)."""
    if not 0 <= overlap_tokens < chunk_tokens:
        raise ValueError("need 0 <= overlap_tokens < chunk_tokens")
    step = chunk_tokens - overlap_tokens
    toks = F.split(F.col(text_col), r"\s+")
    # token starts: 0, step, 2*step, ... while start + overlap < n — a
    # start inside the previous chunk's overlap region would emit a chunk
    # wholly contained in its predecessor
    starts = F.sequence(
        F.lit(0),
        F.greatest(
            (F.size(toks) - F.lit(overlap_tokens + 1)) / F.lit(step),
            F.lit(0),
        ).cast("long")
        * F.lit(step),
        F.lit(step),
    )
    exploded = df.select(
        F.col(id_col),
        toks.alias("_toks"),
        F.posexplode(starts).alias("chunk_id", "_start"),
    )
    piece = F.slice(F.col("_toks"), F.col("_start") + 1, chunk_tokens)
    return exploded.select(
        id_col,
        "chunk_id",
        F.col("_start").alias("token_offset"),
        F.size(piece).alias("n_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


# Gopher/FineWeb-style rule thresholds (the published ballpark values;
# callers override per corpus)
QUALITY_RULES: dict[str, float] = {
    "min_tokens": 15,
    "min_stopword_ratio": 0.03,
    "max_dup_word_ratio": 0.5,
    "max_punct_ratio": 0.1,
    "min_avg_token_len": 3.0,
    "max_avg_token_len": 12.0,
}


def quality_filter_flags(
    df: DataFrame,
    rules: dict[str, float] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document quality-rule battery WITH ATTRIBUTION (L104 — the
    Gopher/Rae et al. 2021 §A1.1 / FineWeb filter set): five boolean
    flags (too short, stopword-starved, word-repetitive, symbol-heavy,
    degenerate word length) plus the drop verdict. Unlike the scalar
    `quality_score` this answers the question a pipeline operator
    actually asks — WHY did my yield drop — and feeds the per-rule
    report. Every signal is a pure codegen expression: the repetition
    ratio uses array_distinct on the token array (no explode, no
    shuffle), stopword hits use the existing higher-order filter.
    NULL text flags as short and keeps its row."""
    r = {**QUALITY_RULES, **(rules or {})}
    t = F.coalesce(F.col(text_col), F.lit(""))
    w = F.split(t, " ")
    n = F.size(w)
    n_chars = F.length(t)
    avg_len = n_chars / F.greatest(n, F.lit(1)).cast("double")
    stop = stopword_hits(t, LANG_STOPWORDS["en"])
    punct = F.length(F.regexp_replace(t, r"[^\.,;:!\?]", ""))
    dup_ratio = 1.0 - F.size(F.array_distinct(w)) / n.cast("double")
    flags = {
        "short": n < int(r["min_tokens"]),
        "stopword": stop / F.greatest(n, F.lit(1)).cast("double")
        < r["min_stopword_ratio"],
        "repetition": F.round(dup_ratio, 6) > r["max_dup_word_ratio"],
        "symbol": punct / F.greatest(n_chars, F.lit(1)).cast("double")
        > r["max_punct_ratio"],
        "word_len": (avg_len < r["min_avg_token_len"])
        | (avg_len > r["max_avg_token_len"]),
    }
    out = df.select(
        F.col(id_col),
        *[v.alias(f"f_{k}") for k, v in flags.items()],
    )
    dropped = None
    for k in flags:
        c = F.col(f"f_{k}")
        dropped = c if dropped is None else (dropped | c)
    return out.withColumn("kept", ~dropped)


def quality_filter_report(
    df: DataFrame,
    rules: dict[str, float] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level attribution report over
    :func:`quality_filter_flags`: one row per rule with how many docs
    it flagged (rules overlap — a doc can trip several), plus
    'dropped' and 'kept' totals. The whole report is one narrow flag
    projection → ONE global aggregate → a 7-row stack: at 100 TB this
    is a single map-side-combined pass."""
    flags = quality_filter_flags(df, rules, text_col, id_col)
    names = ["short", "stopword", "repetition", "symbol", "word_len"]
    agg = flags.agg(
        *[
            F.sum(F.col(f"f_{k}").cast("long")).alias(f"n_{k}")
            for k in names
        ],
        F.sum((~F.col("kept")).cast("long")).alias("n_dropped"),
        F.sum(F.col("kept").cast("long")).alias("n_kept"),
        F.count("*").alias("n_docs"),
    )
    stack_args = ", ".join(
        [f"'{k}', n_{k}" for k in names]
        + ["'dropped', n_dropped", "'kept', n_kept"]
    )
    return agg.select(
        F.expr(f"stack(7, {stack_args}) AS (rule, n)"),
        F.col("n_docs"),
    ).select(
        "rule",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("n") / F.col("n_docs").cast("double"), 6).alias(
            "pct"
        ),
    )


# Unicode script ranges as LITERAL-endpoint character classes — RE2 and
# Java both compare code points, so the same pattern string runs in both
# engines (never \p{Script=...}, which the engines gate differently).
_SCRIPT_CLASSES: list[tuple[str, str]] = [
    ("latin", "[a-zA-Z]"),
    ("cyrillic", "[а-яёА-ЯЁ]"),
    ("cjk", "[一-鿿぀-ゟ゠-ヿ가-힣]"),
    ("greek", "[α-ωΑ-Ωά-ώΆΈΉΊΌΎΏ]"),
    ("arabic", "[ا-ي]"),
    ("digit", "[0-9]"),
]


def script_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document Unicode SCRIPT mix (L102 — the standard cheap
    complement to stopword language-ID: stopword lists need the right
    language guessed first, script fractions are unconditional and the
    only reliable signal for CJK). Counts characters in six literal
    code-point classes (Latin, Cyrillic, CJK incl. kana+hangul, Greek,
    Arabic, digits), emits each as a fraction of the doc's characters
    plus the dominant script — ``other`` (whitespace/punctuation/
    uncovered scripts) wins only when no class scores, so an
    all-punctuation doc reports dominant='other'. NULL text → zero
    counts, dominant='other', row kept. Ties break by the class order
    above (deterministic).

    Scale shape: one narrow codegen projection of regexp_count
    expressions — no shuffle, no UDF, column-pruned scan."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    n = F.length(t)
    counts = {
        name: F.regexp_count(t, F.lit(pat)).cast("long")
        for name, pat in _SCRIPT_CLASSES
    }
    frac = {
        name: F.when(n == 0, F.lit(0.0)).otherwise(
            F.round(c / n.cast("double"), 6)
        )
        for name, c in counts.items()
    }
    dominant = F.lit("other")
    best = F.lit(0)
    # left-to-right: an earlier class keeps the crown on ties
    for name, _ in _SCRIPT_CLASSES:
        wins = counts[name] > best
        dominant = F.when(wins, F.lit(name)).otherwise(dominant)
        best = F.when(wins, counts[name]).otherwise(best)
    return df.select(
        F.col(id_col),
        n.cast("long").alias("n_chars"),
        *[counts[name].alias(f"n_{name}") for name, _ in _SCRIPT_CLASSES],
        *[frac[name].alias(f"{name}_frac") for name, _ in _SCRIPT_CLASSES],
        dominant.alias("dominant_script"),
    )


# CCNet-style normalization maps (explicit, engine-portable — DuckDB's
# strip_accents would fold differently, so both sides use THIS table)
_ACCENT_SRC = "áàâäãåéèêëíìîïóòôöõúùûüçñýÿ"
_ACCENT_DST = "aaaaaaeeeeiiiioooooouuuucnyy"
_NORM_PUNCT_RE = "[.,;:!?\"'()\\[\\]{}<>«»_/\\\\|+*=~`@#$%^&-]"


def normalize_for_dedup(text: Column) -> Column:
    """CCNet-style text normalization (L101 — Wenzek et al. 2020 §4.1,
    the key function behind 'fuzzy-exact' dedup): lowercase, fold the
    27 common Latin accents (explicit translate table, identical in
    both engines), map every digit to 0 (so '© 2019' and '© 2024'
    dedup), replace punctuation with spaces (never glue words), and
    collapse/trim whitespace. Returns the normalized TEXT; hash it for
    the dedup key. Pure codegen — two translates + two regexp_replace
    in one projection."""
    t = F.lower(F.coalesce(text, F.lit("")))
    t = F.translate(t, _ACCENT_SRC, _ACCENT_DST)
    t = F.translate(t, "123456789", "000000000")
    t = F.regexp_replace(t, _NORM_PUNCT_RE, " ")
    t = F.regexp_replace(t, "[ \t\n]+", " ")
    return F.trim(t)


def normalized_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fuzzy-exact dedup over :func:`normalize_for_dedup` (L101): docs
    whose normalized forms collide keep only the lowest-id copy — the
    CCNet trade between exact-hash dedup (misses every trivial
    variation) and MinHash (pays shingling + banding for what is
    usually just case/punctuation/digit noise). Returns one row per
    input doc: (id, norm_hash, is_kept).

    Scale shape: the normalization is a narrow codegen map; the
    keep-lowest decision is ONE min() window over the 32-hex key —
    single hash shuffle, no join (the url_canonical_dedup shape).
    Skew bound: the heaviest normalized form's copy count (the empty
    form collects punctuation-only docs — still one group)."""
    from pyspark.sql import Window

    keyed = df.select(
        F.col(id_col),
        F.md5(normalize_for_dedup(F.col(text_col))).alias("norm_hash"),
    )
    w = Window.partitionBy("norm_hash")
    return keyed.withColumn(
        "is_kept", F.col(id_col) == F.min(id_col).over(w)
    )


# tracking params a canonicalizer drops (conventionally lowercase keys)
_URL_TRACKING_RE = "^(utm_[a-z0-9_]*|gclid|fbclid|ref)(=.*)?$"
_URL_PARTS_RE = r"^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?"


def canonicalize_url(url: Column) -> Column:
    """URL canonicalization (L98 — the normalize step before URL-level
    dedup in every web-crawl pipeline): lowercase scheme+host, strip
    the fragment, drop default ports (:80 http / :443 https), remove
    tracking params (utm_*, gclid, fbclid, ref), sort surviving query
    params by byte order (param order never distinguishes resources),
    normalize an empty path to '/' and strip trailing slashes from
    non-root paths. Strings without a scheme://authority shape pass
    through untouched (no URL = nothing to normalize). Pure codegen
    expression — RE2-compatible patterns, replayable in DuckDB."""
    u = F.regexp_replace(url, "#.*$", "")  # fragment first
    scheme = F.lower(F.regexp_extract(u, _URL_PARTS_RE, 1))
    host = F.lower(F.regexp_extract(u, _URL_PARTS_RE, 2))
    path = F.regexp_extract(u, _URL_PARTS_RE, 3)
    qs = F.regexp_extract(u, _URL_PARTS_RE, 4)
    host = F.when(
        (scheme == "http") & host.endswith(":80"),
        F.regexp_replace(host, ":80$", ""),
    ).when(
        (scheme == "https") & host.endswith(":443"),
        F.regexp_replace(host, ":443$", ""),
    ).otherwise(host)
    p1 = F.regexp_replace(path, "/+$", "")
    path = F.when(p1 == "", F.lit("/")).otherwise(p1)
    params = F.array_sort(
        F.filter(
            F.split(F.regexp_replace(qs, r"^\?", ""), "&"),
            lambda x: (x != "") & ~x.rlike(_URL_TRACKING_RE),
        )
    )
    canon_q = F.when(
        F.size(params) > 0, F.concat(F.lit("?"), F.array_join(params, "&"))
    ).otherwise(F.lit(""))
    canon = F.concat(scheme, F.lit("://"), host, path, canon_q)
    return F.when(
        url.rlike("^[a-zA-Z][a-zA-Z0-9+.-]*://"), canon
    ).otherwise(url)


def url_canonical_dedup(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """URL-level dedup over :func:`canonicalize_url` (L98): docs whose
    URLs normalize to the same resource keep only the lowest-id copy —
    the crawl-side dedup that runs BEFORE any content fingerprinting
    (a fetch avoided is cheaper than a minhash computed). Returns one
    row per input doc: (id, url, canon_url, is_kept).

    Scale shape: the canonicalization is a narrow codegen map; the
    keep-lowest decision is ONE min() window over the canonical key —
    a single hash shuffle, no join, no second pass. Skew bound: the
    heaviest canonical key is the most-duplicated URL's copy count."""
    from pyspark.sql import Window

    canon = df.select(
        F.col(id_col),
        F.col(url_col),
        canonicalize_url(F.col(url_col)).alias("canon_url"),
    )
    w = Window.partitionBy("canon_url")
    return canon.withColumn(
        "is_kept", F.col(id_col) == F.min(id_col).over(w)
    )


# HTML entity decode order matters: '&amp;' must decode LAST or
# '&amp;lt;' would double-decode into '<'. Literal replaces (no regex).
_HTML_ENTITIES: list[tuple[str, str]] = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
]
# tags whose close (or self-close) marks a text line boundary
_HTML_BLOCK_RE = (
    "(?i)</(p|div|h1|h2|h3|h4|h5|h6|li|tr|ul|ol|table|blockquote)>"
    "|(?i)<(br|hr)[^>]*>"
)


def extract_html_text(
    df: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
) -> DataFrame:
    """HTML→text extraction (L97 — the WET/trafilatura-shaped first
    stage of every web curation pipeline, in its deterministic regex
    form): drop <script>/<style> blocks and comments wholesale, turn
    block-level tag boundaries into newlines, strip remaining tags to
    spaces (so inline markup never glues words), decode the six
    ubiquitous entities (&amp; last — order is load-bearing), collapse
    runs of spaces and blank lines, and emit per-doc markup-density
    signals alongside the text. Returns (id, text, n_tags,
    n_chars_html, n_chars_text, markup_ratio); NULL html degrades to
    empty text with zero counts (the row never vanishes).

    Scale shape: a pure narrow map — every stage is a JVM regexp/string
    expression inside one whole-stage-codegen projection; no shuffle,
    no UDF, no explode. At 100 TB this runs at scan speed and column
    pruning keeps it to (id, html). Patterns are RE2-compatible
    (explicit char classes, no lookaround, no backreferences) so the
    DuckDB oracle replays them verbatim."""
    h = F.coalesce(F.col(html_col), F.lit(""))
    n_tags = F.regexp_count(h, F.lit("<[^>]*>")).cast("long")
    t = F.regexp_replace(h, r"(?is)<script[^>]*>.*?</script>", " ")
    t = F.regexp_replace(t, r"(?is)<style[^>]*>.*?</style>", " ")
    t = F.regexp_replace(t, r"(?s)<!--.*?-->", " ")
    t = F.regexp_replace(t, _HTML_BLOCK_RE, "\n")
    t = F.regexp_replace(t, r"(?s)<[^>]*>", " ")
    for ent, ch in _HTML_ENTITIES:
        t = F.replace(t, F.lit(ent), F.lit(ch))
    t = F.regexp_replace(t, "[ \t]+", " ")
    t = F.regexp_replace(t, "[ \t]*\n[ \t]*", "\n")
    t = F.regexp_replace(t, "\n+", "\n")
    t = F.regexp_replace(t, "^[ \n]+|[ \n]+$", "")
    out = df.select(
        F.col(id_col),
        t.alias("text"),
        n_tags.alias("n_tags"),
        F.length(h).cast("long").alias("n_chars_html"),
    ).withColumn("n_chars_text", F.length("text").cast("long"))
    # empty/NULL html is "no markup", not "all markup"
    return out.withColumn(
        "markup_ratio",
        F.when(F.col("n_chars_html") == 0, F.lit(0.0)).otherwise(
            F.round(
                1.0
                - F.col("n_chars_text")
                / F.col("n_chars_html").cast("double"),
                6,
            )
        ),
    )


def remove_duplicate_spans(
    df: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    min_run: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document exact duplicate-SPAN removal (L96 — the Lee et
    al. 2022 "Deduplicating Training Data Makes Language Models Better"
    rewrite stage, in its scalable shingle approximation): a token
    ``k``-gram occurring in at least ``min_docs`` DISTINCT documents
    marks its k token positions as duplicated; overlapping/adjacent
    marked intervals merge into runs; every run of at least ``min_run``
    tokens (default: ``k``, i.e. every marked run) is excised from the
    document and the surviving tokens are rejoined in order. Unlike the
    doc-level dedup family this edits INSIDE documents — the famous
    failure mode it fixes is a unique article wrapped around a license
    block that exact/minhash dedup can never catch. Distinct from L95
    (whole-LINE frequency) and from `dup_span_coverage` (which only
    measures the ratio; this op performs the rewrite).

    Returns one row per input doc: (id, n_tokens, n_removed, n_runs,
    kept_text) where kept_text is the single-space join of surviving
    tokens for EDITED docs, and the byte-identical original text for
    untouched ones (no qualifying run, fewer than ``k`` tokens; NULL
    text degrades to ''). The row survives even when everything was
    duplicated (downstream length filters decide drops, not this op).

    Scale shape: gram explode is a narrow map (one 32-hex md5 per token
    position) → the duplicated-gram set is ONE count_distinct
    aggregation with map-side partials (measured: a count() window
    over the gram key instead went +1.39 superlinear at the 5M-doc
    tier — a gram shared by 1.7M docs is one sorted window partition,
    i.e. single-task skew; the aggregation form's partials combine) →
    the frequent set joins back against the gram instances (AQE
    broadcasts it when small; a shuffled join on a hot gram streams
    linearly, never sorts) → duplicated starts per doc are a tiny
    fraction of the corpus, so the run-merge windows (lag + running
    sum, the sessionize idiom) and the per-doc run collapse run on the
    small relation → the rewrite itself is a doc-level left join (one
    row per doc each side) and a pure-codegen higher-order filter over
    the token array: NO token-level shuffle, no window over corpus
    tokens or gram keys."""
    if min_run is None:
        min_run = k
    toks = _span_toks(df, text_col, id_col)
    grams = _span_grams(toks, k)
    freq = (
        grams.groupBy("_g")
        .agg(F.count_distinct("_id").alias("_ndocs"))
        .filter(F.col("_ndocs") >= min_docs)
        .select("_g")
    )
    dup_starts = grams.join(freq, "_g").select("_id", "_i")
    return _excise_marked_runs(toks, dup_starts, k, min_run, id_col)


def _span_toks(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_text"),
        F.split(F.coalesce(F.col(text_col), F.lit("")), " ").alias("_w"),
    ).withColumn("_n", F.size("_w"))


def _span_grams(toks: DataFrame, k: int) -> DataFrame:
    # 1-based gram start positions, docs with >= k tokens only
    return toks.filter(F.col("_n") >= k).select(
        "_id",
        F.explode(F.sequence(F.lit(1), F.col("_n") - (k - 1))).alias("_i"),
        "_w",
    ).select(
        "_id",
        "_i",
        # 128-bit key (no corpus-scale collisions), shuffled as 16-byte
        # BINARY — half the bytes of the hex-string form
        F.unhex(
            F.md5(F.concat_ws(" ", F.slice(F.col("_w"), F.col("_i"), k)))
        ).alias("_g"),
    )


def _excise_marked_runs(
    toks: DataFrame,
    dup_starts: DataFrame,
    k: int,
    min_run: int,
    id_col: str,
) -> DataFrame:
    """Shared tail of the span-rewrite family: fuse marked gram starts
    (_id, _i) into runs, drop runs under ``min_run``, and excise the
    survivors from the token arrays (doc-level join + codegen filter)."""
    from pyspark.sql import Window

    w_doc = Window.partitionBy("_id").orderBy("_i")
    # intervals [i, i+k-1] merge when the next start is within k of the
    # previous (overlap or token-adjacency — one contiguous covered run)
    runs = (
        dup_starts.withColumn("_prev", F.lag("_i").over(w_doc))
        .withColumn(
            "_new",
            (F.col("_prev").isNull() | (F.col("_i") - F.col("_prev") > k))
            .cast("int"),
        )
        .withColumn(
            "_run",
            F.sum("_new").over(
                w_doc.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("_id", "_run")
        .agg(
            F.min("_i").alias("_s"),
            (F.max("_i") + (k - 1)).alias("_e"),
        )
        .filter(F.col("_e") - F.col("_s") + 1 >= min_run)
    )
    per_doc = runs.groupBy("_id").agg(
        F.collect_list(F.struct("_s", "_e")).alias("_runs"),
        F.count("*").cast("long").alias("_n_runs"),
        F.sum(F.col("_e") - F.col("_s") + 1).cast("long").alias("_n_rm"),
    )
    joined = toks.join(per_doc, "_id", "left")
    covered = lambda idx: F.exists(  # noqa: E731 — 1-based position test
        F.coalesce(F.col("_runs"), F.array()),
        lambda r: (idx + 1 >= r["_s"]) & (idx + 1 <= r["_e"]),
    )
    kept = F.filter(F.col("_w"), lambda w, i: ~covered(i))
    return joined.select(
        F.col("_id").alias(id_col),
        F.col("_n").cast("long").alias("n_tokens"),
        F.coalesce(F.col("_n_rm"), F.lit(0)).cast("long").alias("n_removed"),
        F.coalesce(F.col("_n_runs"), F.lit(0)).cast("long").alias("n_runs"),
        F.when(
            F.col("_n_rm").isNull(), F.coalesce(F.col("_text"), F.lit(""))
        )
        .otherwise(F.array_join(kept, " "))
        .alias("kept_text"),
    )


def write_dupgram_layout(
    df: DataFrame,
    path: str,
    k: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Persist the standing corpus's duplicated-gram BANK (L99 — the
    stored-layout form of L96, the write_neardup_banding_layout
    contract for substring dedup): one corpus pass reduces the text to
    its frequent k-gram set (16-byte binary keys, the only state the
    rewrite needs) plus ``_meta.json``. :func:`span_rewrite_admission`
    then rewrites ARRIVAL batches against this bank with zero standing
    recompute — the production shape where the template bank is
    trained once on the corpus and new data is cleansed at ingest.

    Deliberately NOT stored: per-gram counts. Maintaining them per
    arrival would mean corpus-gram-sized standing state (every distinct
    gram, not just the frequent tail) — the wrong trade; the bank
    refresh is a periodic rebuild (this one aggregation pass)."""
    import json
    import os

    toks = _span_toks(df, text_col, id_col)
    freq = (
        _span_grams(toks, k)
        .groupBy("_g")
        .agg(F.count_distinct("_id").alias("_ndocs"))
        .filter(F.col("_ndocs") >= min_docs)
        .select(F.col("_g").alias("g"))
    )
    freq.write.parquet(os.path.join(path, "grams"))
    with open(os.path.join(path, "_meta.json"), "w") as f:
        json.dump({"k": k, "min_docs": min_docs}, f)


def span_rewrite_admission(
    spark,
    path: str,
    arrivals: DataFrame,
    min_run: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rewrite an arrival batch against the STORED duplicated-gram bank
    (L99): every arrival k-gram found in the bank marks its positions,
    runs fuse and excise exactly as in :func:`remove_duplicate_spans`.
    Same output contract (one row per arrival doc, byte-identical
    passthrough for untouched docs). Grams duplicated only WITHIN the
    arrival batch do NOT mark — the bank is the template authority; a
    batch-local rewrite would make admission order-dependent.

    Scale shape — per batch, only the arrival side is computed: the
    arrival gram relation BROADCASTS against the stored bank (one
    streaming pass over the bank's 16-byte keys, no shuffle of either
    side), and everything downstream runs on the marked-starts
    relation, which is arrival-sized. The standing corpus is never
    re-read."""
    import json
    import os

    with open(os.path.join(path, "_meta.json")) as f:
        meta = json.load(f)
    k = int(meta["k"])
    if min_run is None:
        min_run = k
    stored = spark.read.parquet(os.path.join(path, "grams"))
    toks = _span_toks(arrivals, text_col, id_col)
    a_grams = _span_grams(toks, k)
    dup_starts = stored.join(
        F.broadcast(a_grams), stored["g"] == a_grams["_g"]
    ).select("_id", "_i")
    return _excise_marked_runs(toks, dup_starts, k, min_run, id_col)


def remove_boilerplate_lines(
    df: DataFrame,
    min_docs: int = 30,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document repeated-LINE removal (L95 — the RefinedWeb/CCNet
    boilerplate stage): any line whose exact text occurs in at least
    ``min_docs`` DISTINCT documents (nav menus, cookie banners, shared
    footers) is dropped from EVERY document — unlike the L56 chunk rule
    (keep-first), boilerplate keeps zero copies, because a line that
    frequent is template, not content. Returns one row per input doc:
    (id, n_lines, n_dropped, n_chars_kept, kept_text) with line order
    preserved (and the row kept even when everything was boilerplate —
    downstream length filters make the drop decision, not this op).

    Scale shape: explode to lines (narrow) → ONE line-hash aggregation
    with map-side combine for the document frequencies → the frequent
    set is SMALL by construction (boilerplate is the high-df tail), so
    it comes back as a BROADCAST anti-join — no second corpus shuffle
    for the filter — and the per-doc rebuild is one groupBy with an
    order-restoring array_sort (no window). Degenerate inputs (a corpus
    of identical docs) cost a big frequent set, never a skewed join:
    the anti-join's build side is distinct line hashes, not line
    instances."""
    # coalesce: a NULL text must not make the doc VANISH (posexplode of
    # a null array emits no rows and the doc would lose its output row,
    # breaking the one-row-per-doc contract) — it degrades to one empty
    # line, which the frequency rule then treats like any other line
    lines = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("_pos", "_line"),
    )
    frequent = (
        lines.groupBy(F.md5(F.col("_line")).alias("_lh"))
        .agg(F.count_distinct("_id").alias("_df"))
        .filter(F.col("_df") >= min_docs)
        .select("_lh")
    )
    tagged = lines.join(
        F.broadcast(frequent),
        F.md5(F.col("_line")) == F.col("_lh"),
        "left",
    )
    rebuilt = tagged.groupBy("_id").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(F.col("_lh").isNotNull().cast("int"))
        .cast("long")
        .alias("n_dropped"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_lh").isNull(),
                            F.struct(F.col("_pos"), F.col("_line")),
                        )
                    )
                ),
                lambda s: s["_line"],
            ),
            "\n",
        ).alias("kept_text"),
    )
    return rebuilt.select(
        F.col("_id").alias(id_col),
        "n_lines",
        "n_dropped",
        F.length("kept_text").cast("long").alias("n_chars_kept"),
        "kept_text",
    )
