"""Text-analysis column expressions for the training-data pipeline
extensions (SURVEY.md §7 M7): tokenization, n-grams/shingles,
language-ID heuristic, quality scoring, fingerprinting.

Everything here is built from native Catalyst expressions (split /
higher-order array functions / md5) — no Python UDFs — so it runs
JVM-side inside whole-stage codegen and scales linearly with input
splits. Each helper is deliberately *deterministic and SQL-expressible*
so the DuckDB oracle can verify it bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


# --- tokenization ------------------------------------------------------------
def tokens(col: str | Column) -> Column:
    """Whitespace tokenization: split on runs of whitespace after
    trimming."""
    return F.split(F.trim(_c(col)), r"\s+")


def token_count(col: str | Column) -> Column:
    return F.size(tokens(col))


# --- n-grams / shingles ------------------------------------------------------
def shingles_from_tokens(tok_col: Column, n: int = 3) -> Column:
    """Word n-gram shingles from an ALREADY-MATERIALIZED token-array
    column. ``tok_col`` must be a plain column reference (not an inline
    ``tokens(...)`` expression): lambdas in higher-order functions are
    interpreted, so any expression inlined into the lambda body is
    re-evaluated once PER ELEMENT — an inlined split makes shingling
    O(tokens^2) per row (measured 50x slower at sf0.1). Materialize
    with ``df.withColumn("__tk", tokens(c))`` first."""
    t = tok_col
    return F.when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.array_join(F.slice(t, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_shingles(col: str | Column, n: int = 3) -> Column:
    """Word n-gram shingles (arrays of space-joined n-token windows),
    the MinHash/Jaccard input unit. NOTE: inlines the tokenizer into
    the transform lambda — fine for tests/small data; hot paths should
    materialize tokens and use ``shingles_from_tokens`` (see there)."""
    return shingles_from_tokens(tokens(col), n)


# --- language ID (n-gram / stopword heuristic) -------------------------------
# tiny public stopword lists; deterministic and oracle-expressible
LANG_STOPWORDS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"],
    "en": ["the", "a", "of", "and", "is", "to", "in", "that"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "est"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2", "you3"],  # pinyin-ish
}


def lang_scores(col: str | Column) -> dict[str, Column]:
    """Per-language stopword-hit counts over the token set."""
    t = tokens(col)
    out = {}
    for lang, words in LANG_STOPWORDS.items():
        arr = F.array(*[F.lit(w) for w in words])
        out[lang] = F.size(F.filter(t, lambda x: F.array_contains(arr, F.lower(x))))
    return out


def lang_id(col: str | Column) -> Column:
    """Argmax language over the stopword scores; ties break to the
    alphabetically-first language (strict > in the fold), and zero hits
    everywhere yields 'und'. Sequential fold -> deterministic and
    reproducible as nested CASE in the oracle SQL."""
    scores = lang_scores(col)
    best = F.lit("und")
    best_score = F.lit(0)
    for lang in sorted(scores):
        better = scores[lang] > best_score
        best = F.when(better, F.lit(lang)).otherwise(best)
        best_score = F.when(better, scores[lang]).otherwise(best_score)
    return best


# --- quality scoring ---------------------------------------------------------
def quality_score(col: str | Column) -> Column:
    """Deterministic document-quality heuristic in [0,1]:
    0.4 * lexical diversity (distinct/total tokens)
    + 0.3 * length saturation (min(n_tokens/64, 1))
    + 0.3 * alnum-char ratio. Rounded to 6dp for stable cross-engine
    comparison."""
    c = _c(col)
    t = tokens(c)
    n = F.size(t)
    diversity = F.size(F.array_distinct(t)) / n
    saturation = F.least(n / F.lit(64.0), F.lit(1.0))
    # Guard the length-0 divisor explicitly: under Spark 4's default ANSI
    # mode a bare `x / length(c)` aborts the job with DIVIDE_BY_ZERO on an
    # empty document (and `n > 0` doesn't cover it — split('') is [''], so
    # n is 1 there). The oracle SQL mirrors this CASE.
    alnum = F.when(
        F.length(c) > 0,
        F.length(F.regexp_replace(c, r"[^A-Za-z0-9]", "")) / F.length(c),
    ).otherwise(F.lit(0.0))
    return F.round(
        F.when(n > 0, 0.4 * diversity + 0.3 * saturation + 0.3 * alnum).otherwise(0.0),
        6,
    )


# --- PII scrubbing -----------------------------------------------------------
# Deliberately conservative, deterministic regexes (the curation-pass
# staples); swap for an NER model via the pandas_udf surface when recall
# matters more than throughput.
PII_PATTERNS: list[tuple[str, str]] = [
    # email first: an address would otherwise partially match the
    # phone/number patterns once its @ is the only separator left
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"\+?\d[\d\- ]{7,}\d", "<PHONE>"),
]


def scrub_pii(col: str | Column) -> Column:
    """Redact email / IPv4 / phone-shaped spans with typed placeholders.
    A chain of native ``regexp_replace`` calls — codegen'd, order-fixed
    (email before phone, so a local-part's digits can't half-match),
    and reproducible in any engine with the same regex dialect."""
    out = _c(col)
    for pattern, token in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, token)
    return out


# --- fingerprinting ----------------------------------------------------------
def fingerprint_md5(col: str | Column) -> Column:
    """Exact-dup fingerprint: md5 of the whitespace-normalized,
    lowercased text. Stable across engines (md5 is md5 everywhere)."""
    norm = F.lower(F.regexp_replace(F.trim(_c(col)), r"\s+", " "))
    return F.md5(norm)


def rolling_hash(col: str | Column, mod: int = 2_147_483_647, base: int = 31) -> Column:
    """Polynomial rolling hash over the characters (Rabin-Karp style):
    h = fold(chars, 0, (acc, ch) -> (acc*base + ascii(ch)) % mod).
    Uses a left-fold over the char array — sequential, deterministic,
    and integer-exact (acc < 2^31 so acc*31+c fits in a long)."""
    chars = F.split(_c(col), "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * base + F.ascii(ch)) % mod,
    )


# --- URL canonicalization ----------------------------------------------------
_URL_SCHEME_RE = r"^([a-zA-Z][a-zA-Z0-9+.-]*)://"
_URL_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)"
_URL_PATH_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)"
_URL_QUERY_RE = r"\?([^#]*)"
_URL_TRACKING_RE = r"^(utm_[a-z0-9_]*|ref|fbclid|gclid)="


def canonicalize_url(col: str | Column) -> Column:
    """Canonical form of a URL for crawl-frontier and document dedup —
    the normalization every web-scale training pipeline applies before
    "have we fetched this page already?" can be answered by equality:

    - scheme and host lowercased; a leading ``www.`` stripped
    - the scheme's default port dropped (``:80`` for http, ``:443``
      for https)
    - the fragment dropped (never sent to the server)
    - tracking query params dropped (``utm_*``, ``ref``, ``fbclid``,
      ``gclid``), survivors SORTED so param order can't split a page
      into two identities
    - trailing slashes stripped from the path (``/a/`` == ``/a``,
      and a bare ``/`` collapses into the naked host)

    Inputs that are not hierarchical absolute URLs (no scheme, a
    protocol-relative ``//host/...``, ``mailto:``) pass through
    UNCHANGED — without the guard every such string would collapse to
    the degenerate key ``://`` and a groupBy-on-canonical dedup would
    silently merge unrelated documents (self-review r07).

    Pure native string/array expressions — regexp_extract, a
    higher-order filter + array_sort — all inside whole-stage codegen,
    no UDF, reproducible verbatim in any engine with regexp_extract /
    list_filter / list_sort (the DuckDB oracle runs the identical
    pipeline). Kept deliberately anchored-regex-only: Java and RE2
    agree on every pattern here (`^...=`, `:443$`, `/+$`)."""
    u = _c(col)
    # fragment first: everything after '#' is invisible to the server,
    # INCLUDING any '?' inside it — extracting the query from the raw
    # string would resurrect '#what?x=1' as a phantom query string
    base = F.regexp_replace(u, r"(?s)#.*", "")
    scheme = F.lower(F.regexp_extract(base, _URL_SCHEME_RE, 1))
    hostport = F.lower(F.regexp_extract(base, _URL_HOST_RE, 1))
    host = (
        F.when(scheme == "http", F.regexp_replace(hostport, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(hostport, r":443$", ""))
        .otherwise(hostport)
    )
    host = F.regexp_replace(host, r"^www\.", "")
    path = F.regexp_replace(
        F.regexp_extract(base, _URL_PATH_RE, 1), r"/+$", ""
    )
    query = F.regexp_extract(base, _URL_QUERY_RE, 1)
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda x: (x != "") & ~x.rlike(_URL_TRACKING_RE),
        )
    )
    qs = F.array_join(params, "&")
    return F.when((scheme == "") | (host == ""), u).otherwise(F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit("")),
    ))


# --- markup stripping --------------------------------------------------------
_MARKUP_BLOCK_RES = (
    r"(?is)<script[^>]*>.*?</script>",  # script BEFORE tag strip: JS may
    r"(?is)<style[^>]*>.*?</style>",    # contain bare '<' / '>' that
    r"(?s)<!--.*?-->",                  # would corrupt tag parsing; a
)                                       # comment's '>' likewise leaks
_MARKUP_TAG_RE = r"<[^>]+>"
# &amp; must be unescaped LAST: a literal '&lt;' in the source arrives
# as '&amp;lt;', and only the &amp; pass may touch it (scan-forward
# non-overlapping replace gives identical results in Spark and DuckDB).
_MARKUP_ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)


def strip_markup(col: str | Column) -> Column:
    """Visible-text extraction from HTML-ish markup — the boilerplate
    step between a raw crawl and every text-quality operator in this
    package: drop <script>/<style> blocks (case-insensitively — legacy
    pages write <SCRIPT>) and <!--comments--> wholesale (their bodies
    are not text, and may contain bare '<'/'>' that would derail tag
    matching), drop all remaining tags, unescape the five ubiquitous
    entities (&amp; last, so escaped escapes survive one level
    exactly), and collapse whitespace. A chain of native
    regexp_replace / literal replace calls — codegen'd end to end, no
    UDF, with patterns Java and RE2 agree on ((?is), non-greedy
    '.*?', '<[^>]+>'). One documented divergence: Java's \\s includes
    vertical tab (\\x0B), RE2's does not — the repo-wide '\\s+'
    convention is safe on the driver fixtures (no VT) but a corpus
    with VT would need the explicit class [ \\t\\n\\x0B\\f\\r]
    mirrored on both engines."""
    out = _c(col)
    for pat in _MARKUP_BLOCK_RES:
        out = F.regexp_replace(out, pat, " ")
    out = F.regexp_replace(out, _MARKUP_TAG_RE, " ")
    for ent, ch in _MARKUP_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


# --- Gopher quality rules ----------------------------------------------------
# The document-filter ruleset published with Gopher (Rae et al. 2021,
# arXiv:2112.11446 §A1.1) — the canonical pre-training heuristic gate
# reused by MassiveText descendants. Thresholds are the paper's.
GOPHER_STOPWORDS: list[str] = [
    "the", "be", "to", "of", "and", "that", "have", "with",
]


def gopher_rule_columns(col: str | Column) -> dict[str, Column]:
    """Per-document Gopher rule evaluations as a dict of BOOLEAN
    columns plus the diagnostic counts they derive from. Every ratio
    threshold is an exact integer cross-multiplication (10·x <= n
    instead of x/n <= 0.1) so the booleans are engine-independent —
    no float divide anywhere.

    Rules (Rae et al. 2021): word count in [50, 100000]; mean word
    length in [3, 10]; symbol-to-word ratio ('#' or '...') <= 0.1;
    < 90% of lines bullet-started; < 30% of lines ellipsis-ended;
    >= 80% of words contain an alphabetic character; >= 2 distinct
    stopwords from the 8-word list present.

    All array folds are integer F.aggregate folds (exact, order is
    the array's own); the whole thing is column expressions — JVM
    codegen end-to-end, no UDF."""
    c = _c(col)
    tk = tokens(c)
    lines = F.split(c, r"\n")
    n_words = F.size(tk).cast("bigint")
    n_lines = F.size(lines).cast("bigint")

    def _isum(arr: Column) -> Column:
        return F.aggregate(arr, F.lit(0), lambda a, x: a + x).cast("bigint")

    sum_len = _isum(F.transform(tk, lambda w: F.length(w)))
    n_hash = (
        F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
    ).cast("bigint")
    n_ell = (F.size(F.split(c, r"\.\.\.")) - 1).cast("bigint")
    n_bullet = _isum(
        F.transform(
            lines,
            lambda l: F.when(l.rlike(r"^[ \t]*[-*]"), 1).otherwise(0),
        )
    )
    n_ellend = _isum(
        F.transform(
            lines,
            lambda l: F.when(l.rlike(r"\.\.\.[ \t]*$"), 1).otherwise(0),
        )
    )
    n_alpha = _isum(
        F.transform(
            tk, lambda w: F.when(w.rlike(r"[A-Za-z]"), 1).otherwise(0)
        )
    )
    low = F.transform(tk, lambda w: F.lower(w))
    n_stop = None
    for sw in GOPHER_STOPWORDS:
        hit = F.array_contains(low, sw).cast("int")
        n_stop = hit if n_stop is None else n_stop + hit
    n_stop = n_stop.cast("bigint")

    rules = {
        "r_word_count": (n_words >= 50) & (n_words <= 100000),
        "r_mean_word_len": (3 * n_words <= sum_len)
        & (sum_len <= 10 * n_words),
        "r_symbol_ratio": 10 * (n_hash + n_ell) <= n_words,
        "r_bullet_lines": 10 * n_bullet <= 9 * n_lines,
        "r_ellipsis_lines": 10 * n_ellend <= 3 * n_lines,
        "r_alpha_words": 10 * n_alpha >= 8 * n_words,
        "r_stopwords": n_stop >= 2,
    }
    passed = None
    for expr in rules.values():
        passed = expr if passed is None else passed & expr
    return {
        "n_words": n_words,
        "n_lines": n_lines,
        "n_stopwords": n_stop,
        **rules,
        "pass_gopher": passed,
    }
