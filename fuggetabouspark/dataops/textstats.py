"""Text analysis over the documents table — language-ID, quality
scoring, token counting, fingerprinting. Everything stays JVM-side
(pyspark.sql.functions, whole-stage codegen); no Python UDFs at all in
this module, so these scale linearly with executors at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..fixtures import VOCAB
from ..io import TEXT

# deterministic word→token mapping shared with the sketch pipeline when
# a tokens column must be derived from raw text (FIXTURES.md §4):
# token = xxhash64(word) mod VOCAB — computed fully JVM-side.


def _split_words(text: Column) -> Column:
    """The word rule: ``text`` split on single spaces (DuckDB's
    string_split). The one copy: every dedup kernel, the guard's driver
    read and its Spark path derive band keys and passage fingerprints
    from these words, so they agree bit for bit."""
    return F.split(text, " ")


def _word_hashes(words: Column) -> Column:
    """Each word's xxhash64: the per-word hash of the dedup kernels."""
    return F.transform(words, lambda w: F.xxhash64(w))


def tokenize_words() -> Column:
    """The text column's words (_split_words)."""
    return _split_words(F.col(TEXT))


def tokens_from_text() -> Column:
    """array<int> token ids via xxhash64(word) mod VOCAB, explode-free
    (transform is a JVM higher-order function)."""
    return F.transform(
        tokenize_words(),
        lambda w: F.pmod(F.xxhash64(w), F.lit(VOCAB)).cast("int"),
    )


def token_counts(df: DataFrame) -> DataFrame:
    """Whitespace token count + a BPE-ish subword estimate (≈ chars/4,
    the standard heuristic) per document."""
    words = tokenize_words()
    return df.select(
        "doc_id",
        "source",
        F.size(words).alias("n_words"),
        F.length(TEXT).alias("n_chars_obs"),
        F.ceil(F.length(TEXT) / F.lit(4)).cast("long").alias("n_subwords_est"),
    )


# BPE-style pre-tokenizer pattern (GPT-2-ish word/digit/punct split),
# restricted to constructs whose semantics are identical in Java regex
# (Spark) and RE2 (DuckDB) so the oracle reproduces counts exactly:
# letter runs, single digits (BPE tokenizers split digit strings), and
# single non-alphanumeric non-space marks.
BPE_ISH_PATTERN = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"


def regex_token_counts(df: DataFrame) -> DataFrame:
    """Pre-tokenizer token counts via regexp_extract_all — the 'token
    counting (whitespace + BPE-ish regex)' pair from the task brief:
    token_counts gives the whitespace count, this the regex-split
    count over BPE_ISH_PATTERN. Stays JVM-side (regexp_extract_all is a
    codegen'd Spark SQL function), so it scales like any projection."""
    toks = F.regexp_extract_all(TEXT, F.lit(BPE_ISH_PATTERN), F.lit(0))
    return df.select(
        "doc_id",
        "source",
        F.size(toks).cast("long").alias("n_bpe_tokens"),
    )


def repetition_stats(df: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per document: exact word count,
    distinct-word count, and the most-frequent word's count. One
    explode + two hash aggregations — both shuffles are on (doc_id,
    word) / doc_id keys, so the plan partitions by document and scales
    linearly (no doc's words ever meet another doc's)."""
    w = df.select(
        "doc_id", "source", F.explode(tokenize_words()).alias("word")
    )
    wc = w.groupBy("doc_id", "source", "word").agg(F.count("*").alias("cnt"))
    return wc.groupBy("doc_id", "source").agg(
        F.sum("cnt").cast("long").alias("n_words"),
        F.count("*").cast("long").alias("n_distinct"),
        F.max("cnt").cast("long").alias("max_word_freq"),
    )


def quality_filter(df: DataFrame) -> DataFrame:
    """Gopher/C4-style keep/drop verdict per document from integer
    rules only (exactly reproducible by any SQL engine): length window
    10 ≤ n_words ≤ 100 000, top-word frequency < 10% (max_word_freq·10
    ≤ n_words), distinct ratio ≥ 50% (n_distinct·2 ≥ n_words). Returns
    the signals plus the composite ``keep`` boolean — callers filter
    with .where("keep")."""
    st = repetition_stats(df)
    keep = (
        (F.col("n_words") >= 10)
        & (F.col("n_words") <= 100_000)
        & (F.col("max_word_freq") * 10 <= F.col("n_words"))
        & (F.col("n_distinct") * 2 >= F.col("n_words"))
    )
    return st.select(
        "doc_id", "source", "n_words", "n_distinct", "max_word_freq",
        keep.alias("keep"),
    )


# PII patterns restricted to constructs with identical Java-regex/RE2
# semantics (the BPE_ISH_PATTERN rule) so oracles reproduce matches
PII_PATTERNS = {
    "email": "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+",
    "phone": "[0-9][0-9][0-9]-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]",
}


def redact_pii(df: DataFrame) -> DataFrame:
    """<EMAIL>/<PHONE> redaction + per-kind match counts — the scrub
    stage of a training-data pipeline. Pure JVM regexp functions
    (regexp_extract_all / regexp_replace), one projection, no UDFs;
    adds n_<kind> long columns and text_redacted."""
    out = df
    red = F.col(TEXT)
    for name, pat in PII_PATTERNS.items():
        out = out.withColumn(
            f"n_{name}",
            F.size(F.regexp_extract_all(TEXT, F.lit(pat), F.lit(0))).cast("long"),
        )
        red = F.regexp_replace(red, pat, f"<{name.upper()}>")
    return out.withColumn("text_redacted", red)


# tiny per-language stopword markers for the n-gram/stopword heuristic;
# deliberately deterministic and SQL-expressible
_LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "es": ["el", "la", "los"],
    "de": ["der", "die", "und"],
    "fr": ["le", "les", "des"],
    "zh": ["de", "shi", "bu"],
}


def language_id(df: DataFrame) -> DataFrame:
    """Heuristic language ID: argmax over per-language marker-word hit
    counts; 'und' when nothing matches. Pure JVM column algebra."""
    words = tokenize_words()
    hits = [
        F.size(F.array_intersect(words, F.array(*[F.lit(m) for m in ms]))).alias(f"h_{lang}")
        for lang, ms in _LANG_MARKERS.items()
    ]
    scored = df.select("doc_id", "source", *hits)
    langs = list(_LANG_MARKERS)
    best = F.greatest(*[F.col(f"h_{l}") for l in langs])
    pick = F.when(best <= 0, F.lit("und"))
    for l in langs:  # first max wins — deterministic tie-break by dict order
        pick = pick.when(F.col(f"h_{l}") == best, F.lit(l))
    return scored.select("doc_id", "source", pick.alias("lang_pred"))


def quality_score(df: DataFrame) -> DataFrame:
    """Deterministic quality heuristics: length, mean word length,
    alpha ratio, stopword ratio — combined into a 0..1 score.

    The score is a pure arithmetic function of exact counts, so an SQL
    oracle can reproduce it bit-for-bit (driver correctness gate)."""
    words = tokenize_words()
    n_words = F.size(words)
    n_chars = F.length(TEXT)
    stop = F.array(*[F.lit(w) for w in ("the", "and", "of", "a", "to", "in")])
    n_stop = F.size(F.array_intersect(words, stop))
    mean_wlen = (n_chars - (n_words - 1)) / n_words  # chars excl. separators
    len_ok = F.when((n_words >= 10) & (n_words <= 100000), 1.0).otherwise(0.0)
    wlen_ok = F.when((mean_wlen >= 2.0) & (mean_wlen <= 12.0), 1.0).otherwise(0.0)
    stop_ratio = n_stop / F.greatest(n_words, F.lit(1))
    return df.select(
        "doc_id",
        "source",
        n_words.alias("n_words"),
        F.round(mean_wlen, 4).alias("mean_word_len"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round((len_ok + wlen_ok + stop_ratio) / F.lit(3.0), 4).alias("quality"),
    )


def stable_sample(
    df: DataFrame,
    rate: float,
    salt: str = "",
) -> DataFrame:
    """Deterministic hash sampling: keep rows whose xxhash64(doc_id, salt)
    lands in the bottom ``rate`` fraction of the hash space. Unlike
    df.sample(), the kept set is a pure function of the key — stable
    across runs, partition counts, and cluster sizes (so a 1% corpus
    sample drawn on 8 executors equals the one drawn on 1000), and
    different ``salt`` values draw independent samples. One JVM-side
    predicate, pushes through the scan like any filter.

    Rows with a NULL key are never sampled (excluded outright): Spark's
    xxhash64 skips NULL inputs, so every NULL-key row would otherwise
    share ONE hash and be kept all-or-nothing as a block — the opposite
    of sampling."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    threshold = -(1 << 63) + int(rate * float(1 << 64))
    h = F.xxhash64(F.col("doc_id").cast("string"), F.lit(salt))
    keyed = df.where(F.col("doc_id").isNotNull())
    # threshold may exceed int64 max at rate=1.0: keep everything
    if threshold > (1 << 63) - 1:
        return keyed
    return keyed.where(h < F.lit(threshold))
