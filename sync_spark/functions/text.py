"""Text analysis for training-data pipelines (SURVEY.md §2.10
extensions; §7 Phase 4): tokenization, shingling, quality stats,
language-ID heuristic, document fingerprinting.

All pure Column expressions — JVM-side, codegen'd, no UDFs — so they
hold up in a 100 TB document sweep.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny per-language stopword sets for the stopword-vote language
# heuristic (the reference has no language ID; this is an extension)
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "is"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "fr": ["le", "la", "les", "et", "est", "un"],
    "es": ["el", "los", "las", "y", "es", "un"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization; empty string → empty array."""
    return F.when(F.length(F.trim(text)) == 0, F.array().cast("array<string>")).otherwise(
        F.split(F.trim(text), r"\s+")
    )


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (dedup input). Docs shorter than
    n tokens → empty set — _shingle_expr is safe by construction for
    short docs (clamped + filtered index), no CASE guard needed."""
    return F.array_distinct(_shingle_expr(tokens(text), n))


def _shingle_expr(toks: Column, n: int) -> Column:
    # sequence() generates DESCENDING when start > stop, and slice()
    # then throws on start 0 — even when a guarding CASE branch is
    # not taken, codegen may still evaluate this expression. Clamp
    # the stop and filter, so docs shorter than n tokens yield []
    # with every slice start ≥ 1.
    last = F.size(toks) - n + 1
    idx = F.filter(F.sequence(F.lit(1), F.greatest(last, F.lit(1))), lambda i: i <= last)
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))


def stopword_hits_toks(toks: Column, lang: str) -> Column:
    """Count of tokens in the language's stopword set (bag count, not
    distinct). Case-insensitive — 'The' at sentence start is still a
    stopword.

    Takes an already-materialized token array — the
    expression-sharing form (r6): langid_toks embeds one stopword filter
    per language, and inlining the tokenizer into each multiplies the
    expression tree ~20× — a measured ~0.4s of ANALYSIS per query
    construction, before a row is touched. Callers stage tokens()
    once and pass the attribute; the HOF lambda reads only its own
    argument, so the staged column is CollapseProject-safe."""
    sw = STOPWORDS[lang]
    return F.size(F.filter(toks, lambda t: F.lower(t).isin(*sw)))


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are neither letters (any script)
    nor digits nor whitespace. Unicode classes, not [A-Za-z]: accented
    and non-Latin text must not score as punctuation."""
    stripped = F.regexp_replace(text, r"[\p{L}\p{N}\s]", "")
    return F.when(F.length(text) == 0, F.lit(0.0)).otherwise(
        F.length(stripped).cast("double") / F.length(text).cast("double")
    )


def avg_token_len(text: Column) -> Column:
    toks = tokens(text)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")), F.lit(0).cast("long"), lambda a, x: a + x
    )
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        total.cast("double") / F.size(toks).cast("double")
    )


def langid_toks(toks: Column) -> Column:
    """Stopword-vote language ID over a staged token array (see
    stopword_hits_toks): argmax over per-language hit counts; ties go
    to the alphabetically-first language; 'und' when no hits.

    Implemented as a right-to-left fold over the sorted language list
    so the tie rule is by construction (a later-seen = alphabetically
    earlier language replaces on >=)."""
    best_lang, best_score = F.lit("und"), F.lit(0)
    for lang in sorted(STOPWORDS, reverse=True):
        score = stopword_hits_toks(toks, lang)
        cond = (score > F.lit(0)) & (score >= best_score)
        best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(cond, score).otherwise(best_score)
    return best_lang


def normalize(text: Column) -> Column:
    """Fingerprint normalization: lowercase, strip non-alphanumerics
    to single spaces, collapse whitespace, trim."""
    t = F.lower(text)
    t = F.regexp_replace(t, r"[^a-z0-9]+", " ")
    return F.trim(t)


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of the normalized text (stable,
    cross-engine: DuckDB md5 matches)."""
    return F.md5(normalize(text))


def quality_score(text: Column) -> Column:
    """Composite quality heuristic in [0,1]: length band + low punct +
    stopword presence (en). Deterministic, SQL-expressible."""
    return quality_score_toks(tokens(text), text)


def quality_score_toks(toks: Column, text: Column) -> Column:
    """quality_score over a staged token array (see
    stopword_hits_toks); identical math, ~10× smaller expression."""
    n_tok = F.size(toks).cast("double")
    len_score = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    punct = punct_ratio(text)
    sw_ratio = F.when(n_tok == 0, F.lit(0.0)).otherwise(
        stopword_hits_toks(toks, "en").cast("double") / n_tok
    )
    return F.round(
        F.lit(0.4) * len_score + F.lit(0.3) * (F.lit(1.0) - F.least(punct * 5, F.lit(1.0))) + F.lit(0.3) * F.least(sw_ratio * 5, F.lit(1.0)),
        6,
    )


# --- PII redaction (training-pipeline extension; conservative regex
# subset that parses identically under Java regex and RE2 so the
# DuckDB oracle can replay it) ---

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+\d{1,2}-\d{3}-\d{3,4}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def redact_pii(text: Column) -> Column:
    """Replace emails, +CC-NNN-NNNN phone numbers, and IPv4 literals
    with typed placeholders. Email first (its domain may contain
    dotted digits an IP pass would half-eat), then phone, then IP."""
    out = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, PHONE_RE, "<PHONE>")
    return F.regexp_replace(out, IPV4_RE, "<IP>")


def pii_counts(text: Column) -> tuple[Column, Column, Column]:
    """(n_emails, n_phones, n_ips) — counted on the same pass order
    as redact_pii so counts equal the number of placeholders."""
    n_email = F.regexp_count(text, F.lit(EMAIL_RE))
    after_email = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    n_phone = F.regexp_count(after_email, F.lit(PHONE_RE))
    after_phone = F.regexp_replace(after_email, PHONE_RE, "<PHONE>")
    n_ip = F.regexp_count(after_phone, F.lit(IPV4_RE))
    return n_email, n_phone, n_ip


# --- BPE-style subword pre-tokenization + winnowing fingerprints ---

# GPT-2-style pre-tokenizer, restricted to the Java-regex ∩ RE2 subset
# (no lookahead): a leading space glues to the following word, runs of
# letters / digits / other symbols split, residual whitespace is its
# own token. Counted tokens approximate BPE pre-token counts (each BPE
# merge happens INSIDE one pre-token, so this upper-bounds fused
# tokens ~1:1 for natural text).
BPE_PRETOKEN_RE = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


def bpe_pretokens(text: Column) -> Column:
    """Array of GPT-2-style pre-tokens. Group index 0 = whole match
    (Spark defaults to group 1, which errors on a group-less
    pattern)."""
    return F.regexp_extract_all(text, F.lit(BPE_PRETOKEN_RE), 0)


def bpe_token_count(text: Column) -> Column:
    """Budget-grade token estimate: BPE pre-token count (whitespace
    token_count undercounts punctuation-heavy and CJK-adjacent text;
    this is the standard cheap stand-in when the real tokenizer can't
    run in the engine)."""
    return F.size(bpe_pretokens(text))


# --- staged-expression memo (r11 optimization round, guide §1.2
# per-call driver work) ---

_STAGED: dict = {}


def staged_expr(key: str, builder):
    """Reuse one frame-independent Column expression tree (or list of
    trees) per SparkContext. Building a Column pays py4j round-trips
    proportional to tree size (one HOF lambda is ~36 commands ≈ 15 ms;
    ``langid_toks`` alone measures ~75 ms), and the tree is an
    immutable unresolved expression over fixed attribute NAMES — the
    exact same JVM object every caller would rebuild from scratch.
    Keyed by IDENTITY on the live SparkContext, so a restarted
    JVM/gateway gets a fresh cache and stale py4j handles can never be
    served. Plans only: a Column holds no data and no session state,
    and resolves against each consuming plan independently — reusing
    it is bit-identical to rebuilding it."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return builder()
    if _STAGED.get("__sc") is not sc:
        _STAGED.clear()
        _STAGED["__sc"] = sc
    if key not in _STAGED:
        _STAGED[key] = builder()
    return _STAGED[key]


def tokens_named(text_name: str = "text") -> Column:
    """Memoized ``tokens(col(text_name))``."""
    return staged_expr(f"tokens({text_name})", lambda: tokens(F.col(text_name)))


def quality_named(toks_name: str = "__toks", text_name: str = "text") -> Column:
    """Memoized ``quality_score_toks(col(toks_name), col(text_name))``."""
    return staged_expr(
        f"quality({toks_name},{text_name})",
        lambda: quality_score_toks(F.col(toks_name), F.col(text_name)),
    )


def langid_named(toks_name: str = "__toks") -> Column:
    """Memoized ``langid_toks(col(toks_name))``."""
    return staged_expr(f"langid({toks_name})", lambda: langid_toks(F.col(toks_name)))


def fingerprint_named(text_name: str = "text") -> Column:
    """Memoized ``fingerprint(col(text_name))``."""
    return staged_expr(f"fingerprint({text_name})", lambda: fingerprint(F.col(text_name)))


def avg_token_len_named(text_name: str = "text") -> Column:
    """Memoized ``avg_token_len(col(text_name))``."""
    return staged_expr(f"avg_token_len({text_name})", lambda: avg_token_len(F.col(text_name)))


def punct_ratio_named(text_name: str = "text") -> Column:
    """Memoized ``punct_ratio(col(text_name))``."""
    return staged_expr(f"punct_ratio({text_name})", lambda: punct_ratio(F.col(text_name)))


def winnow_hash(gram: Column) -> Column:
    """56-bit k-gram hash for winnowing: first 14 hex digits of md5 —
    chosen because DuckDB computes the identical value
    (``CAST('0x'||substring(md5(g),1,14) AS BIGINT)``), making the
    whole fingerprint pipeline oracle-checkable. At 100 TB swap in
    xxhash64 (same structure, ~5× cheaper, no cross-engine need)."""
    return F.conv(F.substring(F.md5(gram), 1, 14), 16, 10).cast("long")
