"""Text-analysis operators over a document table — the training-data
pipeline surface the reference lacks (driver north star): token
counting, language-ID heuristic, quality scoring, fingerprinting.

Everything is a narrow per-row transformation built from JVM-side
higher-order functions (transform/aggregate/filter over token
arrays): no shuffle, no UDF, scales linearly with executors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nfl_data_pipeline_spark.operators.hashing import sp_rolling_hash

# Stopword list for the heuristic scorer (English function words; the
# fixture vocabulary contains 'the' and 'a').
STOPWORDS = ("the", "a", "of", "to", "in", "and", "is", "it")


def with_tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokenization. One narrow projection."""
    return df.withColumn("tokens", F.split(F.col(text_col), " "))


def stopword_count(tokens: Column | str, stopwords=STOPWORDS) -> Column:
    toks = F.col(tokens) if isinstance(tokens, str) else tokens
    stop_arr = F.array(*[F.lit(s) for s in stopwords])
    return F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x)))


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic n-gram/stopword language ID.

    Real language ID is a model; at engine level the contract is: a
    deterministic per-row score from token evidence, thresholded.
    Here: fraction of tokens that are English function words.
    """
    t = with_tokens(df, text_col)
    ratio = stopword_count("tokens") / F.size("tokens").cast("double")
    return t.select(
        "doc_id",
        "lang",
        ratio.alias("stopword_ratio"),
        F.when(ratio >= 0.05, "en").otherwise("unknown").alias("pred_lang"),
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite document-quality score from cheap surface statistics
    (length band, vocabulary diversity, stopword presence) — the
    standard pre-training corpus filter shape (C4/Gopher-style rules),
    all computed JVM-side."""
    t = with_tokens(df, text_col)
    n = F.size("tokens").cast("double")
    distinct_ratio = F.size(F.array_distinct("tokens")) / n
    stop_ratio = stopword_count("tokens") / n
    len_ok = (
        F.when((n >= 20) & (n <= 400), F.lit(1.0)).otherwise(F.lit(0.0))
    )
    score = 0.4 * len_ok + 0.4 * distinct_ratio + 0.2 * (stop_ratio * 5.0)
    return t.select(
        "doc_id",
        "source",
        F.round(score, 9).alias("quality"),
        F.when(score >= 0.5, 1).otherwise(0).alias("is_quality"),
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Rolling-hash document fingerprint (31-polynomial over code
    points, mod 1e9+7) + md5 content hash. Exact integers; the same
    fold runs in DuckDB for verification."""
    return df.select(
        "doc_id",
        F.expr(sp_rolling_hash(text_col)).alias("fp_rolling"),
        F.md5(F.col(text_col).cast("binary")).alias("fp_md5"),
    )


def word_ngram_rows(
    df: DataFrame, n: int, text_col: str = "text", out_col: str = "gram"
) -> DataFrame:
    """One row per word n-gram of ``text_col`` — the shared
    sequence/transform/slice composition (no UDF, a single explode)
    behind both the batch heavy-hitter operator
    (queries/textops.heavy_hitter_ngrams) and the streaming
    frequent-items stage (streaming/curation.py). One definition so
    the batch operator and its streaming twin can never diverge on
    tokenization."""
    return df.select(F.split(text_col, " ").alias("__t")).select(
        F.explode(
            F.expr(
                f"CASE WHEN size(__t) < {n} THEN array() "
                f"ELSE transform(sequence(1, size(__t) - {n} + 1), "
                f"i -> array_join(slice(__t, i, {n}), ' ')) END"
            )
        ).alias(out_col)
    )


# --- character-n-gram language ID ----------------------------------------
#
# The stopword-ratio heuristic (language_id above) is a binary
# en/unknown gate; this is the real n-gram profile method (Cavnar &
# Trenkle '94 shape): score each language by the frequency of its
# most characteristic trigrams in the text, normalized by length.
# Profiles are small embedded constants (public-knowledge frequent
# trigrams); occurrence counting is the pure string identity
#   count(t) = (len(s) - len(replace(s, t, ''))) / len(t)
# which both Spark SQL and DuckDB evaluate bit-identically — no UDF,
# no tokenizer divergence, stays in whole-stage codegen.

LANG_TRIGRAM_PROFILES: dict[str, tuple[str, ...]] = {
    "en": (" th", "the", "he ", "ing", " an", "and", "ion", " of"),
    "fr": (" de", "de ", " le", "es ", "ent", "que", " la", "ait"),
    "de": ("en ", "er ", "der", "ein", "ich", " de", "sch", "die"),
    "es": (" de", "de ", "os ", " la", "la ", "que", "ión", " qu"),
}


def _sp_count_occurrences(text_expr: str, needle: str) -> str:
    esc = needle.replace("\\", "\\\\").replace("'", "\\'")
    return (
        f"(length({text_expr}) - length(replace({text_expr}, '{esc}', '')))"
        f" / {len(needle)}"
    )


def _duck_count_occurrences(text_expr: str, needle: str) -> str:
    esc = needle.replace("'", "''")
    return (
        f"(length({text_expr}) - length(replace({text_expr}, '{esc}', '')))"
        f" / {len(needle)}"
    )


def lang_score_sql(lang: str, text_expr: str = "text", engine: str = "spark") -> str:
    """Per-language score as an engine-native SQL string: profile-
    trigram hits per 100 chars (double). ``engine``: spark | duck."""
    counter = (
        _sp_count_occurrences if engine == "spark" else _duck_count_occurrences
    )
    hits = " + ".join(
        counter(f"lower({text_expr})", t) for t in LANG_TRIGRAM_PROFILES[lang]
    )
    return (
        f"CAST(100.0 * ({hits}) / greatest(length({text_expr}), 1) AS DOUBLE)"
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    window: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Sliding-window document chunking — the RAG / embedding-index
    prep step: split each document into token chunks of ``window``
    whitespace tokens every ``stride`` tokens (``window > stride`` ⇒
    overlapping context). Adds ``chunk_idx`` (0-based, dense per doc),
    ``chunk_start`` (token offset), ``chunk_tokens`` (actual length —
    only a doc's final chunk may be short), ``chunk_text``.

    One narrow projection + explode: the chunk structs are built
    per-row with JVM higher-order functions (sequence → transform →
    slice), so chunking is shuffle-free and scales with executors;
    ~len/stride output rows per doc. A start is emitted iff it is a
    stride multiple strictly inside the token array, so every token
    lands in ≥1 chunk and no empty trailing chunk is produced.
    """
    if window < 1 or stride < 1:
        raise ValueError("window and stride must be >= 1")
    toks = f"split({text_col}, ' ')"
    chunks = (
        f"transform("
        f"  sequence(0, greatest(size({toks}) - 1, 0), {stride}),"
        f"  s -> struct("
        f"    CAST(s / {stride} AS INT) AS chunk_idx,"
        f"    s AS chunk_start,"
        f"    least({window}, size({toks}) - s) AS chunk_tokens,"
        f"    array_join(slice({toks}, s + 1, {window}), ' ') AS chunk_text"
        f"  ))"
    )
    return df.withColumn("_chunk", F.explode(F.expr(chunks))).select(
        "*", "_chunk.*"
    ).drop("_chunk")


def ngram_language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds per-language trigram scores (``score_<lang>``) and the
    argmax ``pred_lang`` (deterministic tie-break: language order as
    declared). One codegen'd projection — no shuffle, no UDF."""
    out = df
    for lang in LANG_TRIGRAM_PROFILES:
        out = out.withColumn(
            f"score_{lang}", F.expr(lang_score_sql(lang, text_col, "spark"))
        )
    pred = None
    best = None
    for lang in LANG_TRIGRAM_PROFILES:
        s = F.col(f"score_{lang}")
        if pred is None:
            pred, best = F.lit(lang), s
        else:
            strictly_better = s > best
            pred = F.when(strictly_better, F.lit(lang)).otherwise(pred)
            best = F.when(strictly_better, s).otherwise(best)
    return out.withColumn("pred_lang", pred)
