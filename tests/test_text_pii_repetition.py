"""Unit tests for the PII-redaction scalar functions and the
Gopher-style repetition signals on crafted documents (the registry
queries exercise them on the synthetic tables against the DuckDB
oracle; these pin the semantics on hand-built edge cases)."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from sync_spark.functions import text as T
from sync_spark.operators.text_queries import repetition_signals


def _redact_one(spark, s: str) -> str:
    df = spark.createDataFrame([Row(t=s)]).select(T.redact_pii(F.col("t")).alias("r"))
    return df.collect()[0].r


def test_redact_email_with_dotted_digit_domain(spark):
    assert (
        _redact_one(spark, "mail bob.smith+tag@host3.sub.example.co now")
        == "mail <EMAIL> now"
    )


def test_redact_phone_and_ip(spark):
    assert (
        _redact_one(spark, "call +1-555-0199 from 192.168.3.45 ok")
        == "call <PHONE> from <IP> ok"
    )


def test_redact_order_email_before_ip(spark):
    # a dotted-quad inside an email's host must not be half-eaten by
    # the IP pass: the email is replaced first, whole
    assert _redact_one(spark, "x a@12.34.56.78.example.com y") == "x <EMAIL> y"
    # but user@IP (numeric TLD = not a valid email per the pattern)
    # still gets its IP redacted rather than leaking
    assert _redact_one(spark, "x a@1.2.3.44 y") == "x a@<IP> y"


def test_redact_no_pii_passthrough(spark):
    s = "just words 12 and a-b, nothing to hide"
    assert _redact_one(spark, s) == s


def test_pii_counts_match_placeholders(spark):
    s = "a@b.co c@d.io +1-555-0000 9.9.9.9"
    df = spark.createDataFrame([Row(t=s)])
    ne, np_, ni = T.pii_counts(F.col("t"))
    row = df.select(ne.alias("e"), np_.alias("p"), ni.alias("i")).collect()[0]
    assert (row.e, row.p, row.i) == (2, 1, 1)
    red = _redact_one(spark, s)
    assert red.count("<EMAIL>") == 2 and red.count("<PHONE>") == 1 and red.count("<IP>") == 1


def test_repetition_signals_crafted(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="a a a b"),
            Row(doc_id=2, text="x y z w"),
            Row(doc_id=3, text="solo"),
        ]
    )
    got = {r.doc_id: r for r in repetition_signals(df).collect()}
    r1 = got[1]
    # 4 tokens, 2 distinct -> dup frac 0.5; 'a' appears 3/4; bigrams
    # ('a a','a a','a b') -> top share 2/3
    assert r1.n_tokens == 4
    assert r1.dup_token_frac == 0.5
    assert r1.top_token_share == 0.75
    assert abs(r1.top_bigram_share - 0.666667) < 1e-6
    r2 = got[2]
    assert r2.dup_token_frac == 0.0 and r2.top_token_share == 0.25
    r3 = got[3]
    assert r3.n_tokens == 1 and r3.top_bigram_share == 0.0


# --- BPE pre-tokens + winnowing fingerprints ---


def test_bpe_token_count_vs_whitespace(spark):
    df = spark.createDataFrame([Row(t="hello, world! 42x")])
    row = df.select(
        T.token_count(F.col("t")).alias("ws"),
        T.bpe_token_count(F.col("t")).alias("bpe"),
        T.bpe_pretokens(F.col("t")).alias("pre"),
    ).collect()[0]
    # whitespace sees 3 tokens; the pre-tokenizer splits punctuation
    # and the digit/letter boundary: hello , _world ! _42 x
    assert row.ws == 3
    assert row.pre == ["hello", ",", " world", "!", " 42", "x"]
    assert row.bpe == 6


def _winnow_sets(df):
    from sync_spark.operators.dedup import winnow_fingerprint_rows

    out = {}
    for r in winnow_fingerprint_rows(df, "text", "doc_id", k=5, window=4).collect():
        out.setdefault(r.doc_id, set()).add(r.fp)
    return out


def test_winnow_shared_run_guarantees_shared_fingerprint(spark):
    # guarantee: a shared token run of length >= k + w - 1 (= 8 with
    # k=5, w=4) yields at least one common fingerprint
    run = "q w e r t y u i"  # 8 tokens
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="aa bb " + run + " cc"),
            Row(doc_id=2, text="zz " + run + " xx yy"),
            Row(doc_id=3, text="totally different words here for contrast pad pad"),
        ]
    )
    by_id = _winnow_sets(df)
    assert by_id[1] & by_id[2], "shared 8-token run must share a fingerprint"
    assert not (by_id[1] & by_id[3])


def test_winnow_short_doc_fallbacks(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c d e f"),  # 2 k-grams < window -> 1 global-min fp
            Row(doc_id=2, text="a b c"),  # < k tokens -> no fingerprints
        ]
    )
    got = _winnow_sets(df)
    assert len(got[1]) == 1
    assert 2 not in got  # no k-grams -> no rows


def test_winnow_pairs_crafted(spark):
    from sync_spark.operators.dedup import winnow_pairs

    run = "q w e r t y u i o p a s"  # 12 shared tokens
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="aa bb " + run + " cc dd"),
            Row(doc_id=2, text="zz " + run + " xx yy ww"),
            Row(doc_id=3, text="totally different words here for contrast pad pad"),
            Row(doc_id=4, text="short"),  # < k tokens: no fingerprints
            Row(doc_id=5, text=""),  # empty doc: no fingerprints
        ]
    )
    pairs = winnow_pairs(df, "text", "doc_id", k=5, window=4, min_shared=1).collect()
    assert {(p.id_a, p.id_b) for p in pairs} == {(1, 2)}


def test_decontaminate_crafted(spark):
    from sync_spark.operators.dedup import decontaminate

    leak = "alpha beta gamma delta epsilon zeta eta theta"  # 8-token run
    bench = spark.createDataFrame(
        [Row(doc_id=100, text="eval question: " + leak + " answer here")]
    )
    corpus = spark.createDataFrame(
        [
            Row(doc_id=1, text="training doc with " + leak + " copied verbatim"),
            Row(doc_id=2, text="a perfectly clean training document about other things"),
        ]
    )
    got = {r.doc_id: r.contaminated for r in decontaminate(corpus, bench, k=5, window=4).collect()}
    assert got == {1: True, 2: False}


def test_stratified_sample_deterministic_and_rate(spark, sf_small):
    from sync_spark.operators.text_queries import t_stratified_sample

    a = {r.doc_id for r in t_stratified_sample(spark, sf_small).collect()}
    b = {r.doc_id for r in t_stratified_sample(spark, sf_small).collect()}
    assert a == b  # hash sampling: same set every run
    # en stratum targets 40%: binomial bound, generous at 500 docs
    from sync_spark.operators.relational import _t
    from pyspark.sql import functions as FF

    docs = _t(spark, sf_small, "documents")
    n_en = docs.filter(FF.col("lang") == "en").count()
    kept_en = (
        docs.filter(FF.col("lang") == "en")
        .join(spark.createDataFrame([(i,) for i in a], "doc_id long"), "doc_id")
        .count()
    )
    assert 0.2 <= kept_en / n_en <= 0.6


def test_repetition_signals_empty_text(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="   "), Row(doc_id=2, text="a b")])
    got = {r.doc_id: r for r in repetition_signals(df).collect()}
    assert got[1].n_tokens == 0
    assert got[1].dup_token_frac == 0.0 and got[1].top_token_share == 0.0
    assert got[2].n_tokens == 2
