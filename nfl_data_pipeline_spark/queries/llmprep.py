"""Training-data preparation queries — the operations a large-scale
LLM data pipeline runs between "cleaned corpus" and "tokenizer input":
sequence packing, PII redaction, and domain-mixture weighting.

These extend the reference surface (its R pipeline stops at analytic
tables; SURVEY.md north-star section) with the same contract as every
other registered query: a declarative PySpark plan plus an exact
DuckDB oracle, hash-compared at sf0.01.

Scale posture (100 TB):

- ``sequence_packing`` is one window pass partitioned by ``source``
  (shard key) — no global sort, no driver state; each shard packs
  independently, which is exactly how a distributed tokenizer job
  shards its input.
- ``pii_redact`` is a narrow projection (regexp_count/replace are
  JVM codegen expressions) — zero shuffles, scales linearly.
- ``domain_mixture`` aggregates to one row per domain before any
  windowing, so the single-partition window only ever sees
  #domains rows (tiny by contract), never corpus rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nfl_data_pipeline_spark.catalog import load
from nfl_data_pipeline_spark.operators.hints import gated_broadcast
from nfl_data_pipeline_spark.queries import register

# Concat-and-chunk budget (tokens per packed training sequence).
# Production budgets are 2k-8k; 256 here so fixture-scale shards
# (~1.5k tokens per source at sf0.01) still cross several bin
# boundaries — otherwise the oracle would never test the cut logic.
_PACK_BUDGET = 256

_TOKS = "string_split(text, ' ')"


def _chunked_docs(docs: DataFrame) -> DataFrame:
    """Per-shard concat-and-chunk doc→bin assignment (shared by
    ``sequence_packing`` and ``pack_rebalance``)."""
    n_tokens = F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = docs.select("doc_id", "source", n_tokens).withColumn(
        "cum_tokens", F.sum("n_tokens").over(w)
    )
    return t.withColumn(
        "bin_id",
        F.floor(
            (F.col("cum_tokens") - F.col("n_tokens")) / F.lit(_PACK_BUDGET)
        ),
    )


# Underfull threshold for the cross-shard rebalance pass: bins below
# 85% fill are worth re-merging; int() once so Spark and DuckDB
# compare against the identical integer.
_REB_MIN = int(_PACK_BUDGET * 0.85)


@register(
    "sequence_packing",
    f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len({_TOKS}) AS INTEGER) AS n_tokens,
             SUM(CAST(len({_TOKS}) AS INTEGER))
               OVER (PARTITION BY source ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_tokens
      FROM documents
    ),
    b AS (
      SELECT source, doc_id, n_tokens, cum_tokens,
             -- explicit FLOOR: DuckDB's double→int CAST rounds to
             -- nearest while Spark's truncates
             CAST(FLOOR((cum_tokens - n_tokens) / {_PACK_BUDGET}.0)
                  AS BIGINT) AS bin_id
      FROM t
    ),
    bins AS (
      SELECT source, bin_id,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
             MIN(doc_id) AS first_doc,
             MAX(doc_id) AS last_doc
      FROM b
      GROUP BY source, bin_id
    ),
    m AS (
      SELECT source, bin_id, bin_tokens,
             CAST(FLOOR(
               (SUM(bin_tokens) OVER (
                  ORDER BY bin_tokens DESC, source, bin_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - bin_tokens) / {_PACK_BUDGET}.0) AS BIGINT) AS merged_bin
      FROM bins WHERE bin_tokens < {_REB_MIN}
    ),
    m2 AS (
      SELECT source, bin_id, merged_bin,
             CAST(SUM(bin_tokens) OVER (PARTITION BY merged_bin)
                  AS BIGINT) AS merged_tokens
      FROM m
    )
    SELECT bins.source, bins.bin_id, bins.n_docs, bins.bin_tokens,
           bins.first_doc, bins.last_doc, m2.merged_bin, m2.merged_tokens
    FROM bins LEFT JOIN m2 USING (source, bin_id)
    ORDER BY source, bin_id
    """,
    survey_ids=("NS-pack", "NS-pack-rebalance"),
    doc="Concat-and-chunk sequence packing PLUS the cross-shard "
    "tail-bin rebalance, one row per packed bin: per shard (source), "
    "documents are concatenated in doc_id order and cut into "
    f"{_PACK_BUDGET}-token training sequences (each doc assigned to "
    "the bin its first token lands in — the standard GPT-style "
    "concat+chunk pass, ONE running-sum window per shard, integer "
    "arithmetic end-to-end); underfull bins (<85% fill) then get "
    "their cross-shard merged_bin/merged_tokens assignment from the "
    "second-pass rebalance (window-chunk strategy; null for bins "
    "already full). Carrier query for BOTH packing capabilities "
    "(registry window consolidation, round 3) — the single-op "
    "pack_rebalance form stays registered at position 51+. At 100 TB "
    "the shard key gives pass-1 full parallelism; pass 2 sees only "
    "bin summaries (O(#shards) rows, the broadcast-small-side "
    "contract).",
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    bins = (
        _chunked_docs(load(spark, sf_dir, "documents"))
        .groupBy("source", "bin_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("bin_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )
    # Rebalance columns as WINDOWS over the packed aggregate — the
    # same chunk-merge semantics as operators/packing._chunk_merge,
    # but computed in the SAME plan instead of a second derivation
    # joined back (which doubled the corpus pass and tripled the
    # stage count: r3 bench 0.30 → 0.53 s — VERDICT r4 #6). Full
    # rows ride along with a 0 contribution to the running sum, so
    # the under-bin cumsum is identical to ordering the under rows
    # alone; the bin-summary cardinality argument for the
    # single-partition window is unchanged.
    under = F.col("bin_tokens") < F.lit(_REB_MIN)
    w = Window.orderBy(
        F.col("bin_tokens").desc(), F.col("source"), F.col("bin_id")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = F.sum(F.when(under, F.col("bin_tokens")).otherwise(0)).over(w)
    step = bins.withColumn(
        "merged_bin",
        F.when(
            under,
            F.floor((cum - F.col("bin_tokens")) / F.lit(_PACK_BUDGET)),
        ).cast("long"),
    )
    wg = Window.partitionBy("merged_bin")
    # no final orderBy: the correctness compare sorts rows before
    # hashing, and a tail row-order sort of an unordered result is a
    # pure range-exchange tax (measured 0.45 → 0.31 s at sf0.1);
    # explicit-order coverage lives in sort_limit_topk (O1-O3)
    return step.withColumn(
        "merged_tokens",
        F.when(
            F.col("merged_bin").isNotNull(),
            F.sum("bin_tokens").over(wg),
        ).cast("long"),
    )


@register(
    "pack_rebalance",
    f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len({_TOKS}) AS INTEGER) AS n_tokens,
             SUM(CAST(len({_TOKS}) AS INTEGER))
               OVER (PARTITION BY source ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_tokens
      FROM documents
    ),
    b AS (
      SELECT source, doc_id, n_tokens,
             CAST(FLOOR((cum_tokens - n_tokens) / {_PACK_BUDGET}.0)
                  AS BIGINT) AS bin_id
      FROM t
    ),
    bins AS (
      SELECT source, bin_id, CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
      FROM b GROUP BY source, bin_id
    ),
    u AS (
      SELECT * FROM bins WHERE bin_tokens < {_REB_MIN}
    ),
    m AS (
      SELECT source, bin_id, bin_tokens,
             CAST(FLOOR(
               (SUM(bin_tokens) OVER (
                  ORDER BY bin_tokens DESC, source, bin_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - bin_tokens) / {_PACK_BUDGET}.0) AS BIGINT) AS merged_bin
      FROM u
    )
    SELECT source, bin_id, bin_tokens, merged_bin,
           CAST(SUM(bin_tokens) OVER (PARTITION BY merged_bin) AS BIGINT)
             AS merged_tokens
    FROM m
    ORDER BY merged_bin, source, bin_id
    """,
    survey_ids=("NS-pack-rebalance",),
    doc="Cross-shard tail-bin rebalance (second packing pass): "
    "per-shard concat-and-chunk strands underfull bins (up to one "
    "tail per shard plus first-token drift); this pass merges them "
    "ACROSS shards into near-full groups. Operates on BIN SUMMARIES "
    "(O(#shards) rows), never documents — the global-order window is "
    "the broadcast-small-side contract, not a corpus sort. The "
    "window-chunk assignment here is the SQL-expressible strategy; "
    "operators/packing.py also ships exact FFD (groups strictly "
    "≤ budget) behind the same interface, pytest-gated.",
)
def pack_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nfl_data_pipeline_spark.operators.packing import rebalance_tail_bins

    bins = (
        _chunked_docs(load(spark, sf_dir, "documents"))
        .groupBy("source", "bin_id")
        .agg(F.sum("n_tokens").cast("long").alias("bin_tokens"))
    )
    return rebalance_tail_bins(
        bins, _PACK_BUDGET, fill_threshold=0.85, strategy="chunk"
    ).orderBy("merged_bin", "source", "bin_id")


# PII patterns kept to the Java-regex ∩ RE2 common dialect (no
# lookaround, no backreferences) so Spark and DuckDB match the same
# spans.
_EMAIL_PAT = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_IP_PAT = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PHONE_PAT = r"\+1-555-\d{4}"

# The fixture corpus contains no organic PII, which would leave the
# redaction path untested; both engines append the SAME deterministic
# contact line (pure function of doc_id) so every regex genuinely
# fires and the redacted-text hash proves replacement equivalence.
_DUCK_ENRICH = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@mail.example.com at 10.' || CAST(doc_id % 200 AS VARCHAR)"
    " || '.0.' || CAST(doc_id % 250 AS VARCHAR)"
    " || ' or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)


def pii_projection(t: DataFrame) -> DataFrame:
    """The redaction projection over a (doc_id, raw) relation.

    Stateless and shuffle-free, so it applies unchanged to a BATCH
    DataFrame or a STREAMING one (tests/test_streaming.py runs it
    over a documents file stream and checks batch-twin equality) —
    the per-record scrubbing stage of a continuous ingest pipeline.
    """
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("raw"), _EMAIL_PAT, "<EMAIL>"),
            _IP_PAT,
            "<IP>",
        ),
        _PHONE_PAT,
        "<PHONE>",
    )
    return t.select(
        "doc_id",
        F.regexp_count(F.col("raw"), F.lit(_EMAIL_PAT)).alias("n_emails"),
        F.regexp_count(F.col("raw"), F.lit(_IP_PAT)).alias("n_ips"),
        F.regexp_count(F.col("raw"), F.lit(_PHONE_PAT)).alias("n_phones"),
        F.md5(redacted.cast("binary")).alias("red_md5"),
        F.length(redacted).alias("red_len"),
    )


def pii_enrich(docs: DataFrame) -> DataFrame:
    """Deterministic contact-line enrichment (see _DUCK_ENRICH)."""
    raw = (
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com at 10."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit(".0."),
            (F.col("doc_id") % 250).cast("string"),
            F.lit(" or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        )
    ).alias("raw")
    return docs.select("doc_id", raw)


@register(
    "pii_redact",
    f"""
    WITH t AS (
      SELECT doc_id, {_DUCK_ENRICH} AS raw FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(raw, '{_EMAIL_PAT}'))
                AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(raw, '{_IP_PAT}'))
                AS INTEGER) AS n_ips,
           CAST(len(regexp_extract_all(raw, '{_PHONE_PAT}'))
                AS INTEGER) AS n_phones,
           md5(regexp_replace(regexp_replace(regexp_replace(raw,
                 '{_EMAIL_PAT}', '<EMAIL>', 'g'),
                 '{_IP_PAT}', '<IP>', 'g'),
                 '{_PHONE_PAT}', '<PHONE>', 'g')) AS red_md5,
           CAST(length(regexp_replace(regexp_replace(regexp_replace(raw,
                 '{_EMAIL_PAT}', '<EMAIL>', 'g'),
                 '{_IP_PAT}', '<IP>', 'g'),
                 '{_PHONE_PAT}', '<PHONE>', 'g')) AS INTEGER) AS red_len
    FROM t
    ORDER BY doc_id
    """,
    survey_ids=("NS-pii",),
    doc="PII detection + redaction over the corpus: email / IPv4 / "
    "phone patterns counted and replaced with typed placeholder "
    "tokens, verified cross-engine by hashing the fully-redacted "
    "text. Patterns are restricted to the Java-regex ∩ RE2 dialect. "
    "All expressions are JVM-side codegen (regexp_count / "
    "regexp_replace) in one narrow projection — no shuffle, no UDF; "
    "at 100 TB this is a pure map stage that scales with input "
    "splits.",
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return pii_projection(pii_enrich(docs)).orderBy("doc_id")


# Temperature for domain up/down-sampling (multilingual-sampling /
# DoReMi-style α): weights ∝ token_share^α, α<1 flattens the mixture.
_MIX_ALPHA = 0.7


@register(
    "domain_mixture",
    f"""
    WITH d AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CAST(len({_TOKS}) AS INTEGER)) AS BIGINT)
               AS domain_tokens
      FROM documents
      GROUP BY source
    ),
    p AS (
      SELECT source, n_docs, domain_tokens,
             domain_tokens / CAST(SUM(domain_tokens) OVER () AS DOUBLE)
               AS token_share
      FROM d
    )
    SELECT source, n_docs, domain_tokens,
           ROUND(token_share, 9) AS token_share,
           ROUND(pow(token_share, {_MIX_ALPHA})
                 / SUM(pow(token_share, {_MIX_ALPHA})) OVER (), 9)
             AS sample_weight
    FROM p
    ORDER BY source
    """,
    survey_ids=("NS-mixture",),
    doc="Domain-mixture weighting: per-domain token counts reduced to "
    "temperature-scaled sampling weights (share^α / Σ share^α, "
    f"α={_MIX_ALPHA} — the multilingual/DoReMi-style resampling "
    "knob). The corpus-sized aggregation happens FIRST (map-side "
    "partial counts, one shuffle on source); the unpartitioned "
    "normalization windows only ever see one row per domain, so the "
    "single-partition stage is bounded by domain cardinality, not "
    "data size.",
)
def domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    d = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " ")))
        .cast("long")
        .alias("domain_tokens"),
    )
    # post-agg: one row per domain — the empty-frame windows below are
    # bounded by domain cardinality by construction
    w = Window.partitionBy()
    share = F.col("domain_tokens") / F.sum("domain_tokens").over(w).cast(
        "double"
    )
    p = d.withColumn("token_share_raw", share)
    wgt = F.pow(F.col("token_share_raw"), F.lit(_MIX_ALPHA))
    return (
        p.withColumn("sample_weight_raw", wgt / F.sum(wgt).over(w))
        .select(
            "source",
            "n_docs",
            "domain_tokens",
            F.round(F.col("token_share_raw"), 9).alias("token_share"),
            F.round(F.col("sample_weight_raw"), 9).alias("sample_weight"),
        )
        .orderBy("source")
    )


# nats/token; docs above this are "surprising" outliers. Sits at the
# fixture corpus's ~97th xent percentile (range 3.38-3.70, median
# 3.40; 3.446 observed at p97 — SCALING.md §"perplexity-gate cut
# provenance"; tests/test_streaming_funnel.py pins the count of docs
# at or under each cut) so the outlier flag and the funnel's
# perplexity gate actually discriminate — a cut outside the observed
# range would make both vacuous.
_XENT_CUT = 3.45


@register(
    "unigram_logprob",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    dt AS (
      SELECT doc_id, term, COUNT(*) AS k FROM toks GROUP BY doc_id, term
    ),
    vocab AS (
      SELECT term, CAST(SUM(k) AS BIGINT) AS c FROM dt GROUP BY term
    ),
    tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM vocab),
    scored AS (
      SELECT dt.doc_id,
             CAST(SUM(dt.k) AS BIGINT) AS n_tokens,
             SUM(dt.k * ln(vocab.c / tot.n)) AS lp
      FROM dt JOIN vocab USING (term) CROSS JOIN tot
      GROUP BY dt.doc_id
    )
    SELECT doc_id, n_tokens,
           ROUND(-lp / n_tokens, 9) AS xent_nats,
           ROUND(exp(-lp / n_tokens), 6) AS unigram_ppl,
           CASE WHEN -lp / n_tokens > {_XENT_CUT} THEN 1 ELSE 0
                END AS is_outlier
    FROM scored
    ORDER BY doc_id
    """,
    survey_ids=("NS-quality",),
    doc="Unigram language-model scoring: the corpus's own token "
    "frequencies become the LM, and each document is scored by its "
    "per-token cross-entropy (and perplexity) under it — the "
    "KenLM-style quality/outlier filter of CCNet/RefinedWeb, with "
    "the n-gram model order reduced to 1 so the oracle is exact. "
    "Token counts are a two-key hash-agg reused for BOTH the "
    "vocabulary counts and the per-doc sums (same shape as "
    "tfidf_top_terms: no second corpus pass, vocabulary broadcast "
    "back onto doc-term facts). Per-doc log-prob sums are "
    "order-insensitive at the 9-significant-digit canonicalization "
    "(doc-length-bounded float error ~1e-13 relative).",
)
def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    # one corpus pass: the doc-term aggregate feeds the vocabulary,
    # the total AND the per-doc sums — materialize it once instead of
    # re-exploding the corpus per consumer (ReuseExchange only dedups
    # the exact-duplicate shuffle subtrees, not the broadcast-side
    # copies; on a cluster this would be a persisted intermediate
    # table, localCheckpoint is the local-mode stand-in)
    dt = toks.groupBy("doc_id", "term").agg(F.count("*").alias("k"))
    dt = dt.localCheckpoint()
    vocab = dt.groupBy("term").agg(F.sum("k").cast("long").alias("c"))
    tot = vocab.agg(F.sum("c").cast("double").alias("n"))
    scored = (
        dt.join(gated_broadcast(vocab), "term")
        .join(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_tokens"),
            F.sum(F.col("k") * F.log(F.col("c") / F.col("n"))).alias("lp"),
        )
    )
    xent = -F.col("lp") / F.col("n_tokens")
    return scored.select(
        "doc_id",
        "n_tokens",
        F.round(xent, 9).alias("xent_nats"),
        F.round(F.exp(xent), 6).alias("unigram_ppl"),
        F.when(xent > _XENT_CUT, 1).otherwise(0).alias("is_outlier"),
    ).orderBy("doc_id")


_BIGRAM_K = 0.5  # add-k smoothing, shared with oracle + streaming twin

# Bigram-gate outlier threshold for the incremental funnel's optional
# order-2 perplexity stage (streaming/funnel.py use_bigram): ~p95 of
# the fixture corpus's bigram cross-entropy (the unigram _XENT_CUT
# convention; 3.4405 observed — SCALING.md §"perplexity-gate cut
# provenance", pinned by tests/test_streaming_funnel.py).
# One definition so the gate and any batch re-derivation cannot
# drift.
_BIGRAM_XENT_CUT = 3.44


def bigram_pairs(docs: DataFrame) -> DataFrame:
    """(doc_id, prev, term) consecutive-token pairs in one
    transform/explode pass — THE single definition of the bigram
    event stream, shared by the batch ``bigram_logprob`` and the
    streaming LM twin (``streaming/bigramlm.py``): the two must
    tokenize identically or their counts silently desync (the
    gate_flags single-definition rule, streaming/funnel.py).
    sequence(2,1) DESCENDS in Spark — short docs are guarded
    explicitly and yield zero pairs, same rule as the oracle."""
    d = docs.select("doc_id", F.split(F.col("text"), " ").alias("s"))
    return d.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(s) < 2 THEN array() "
                "ELSE transform(sequence(2, size(s)), i -> "
                "struct(element_at(s, i - 1) AS prev, "
                "element_at(s, i) AS term)) END"
            )
        ).alias("p"),
    ).select("doc_id", "p.prev", "p.term")


@register(
    "bigram_logprob",
    f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
    plist AS (
      SELECT doc_id,
             unnest(CASE WHEN len(s) < 2 THEN []
                    ELSE list_transform(generate_series(2, len(s)),
                         i -> struct_pack(prev := s[i-1], term := s[i]))
                    END) AS p
      FROM d
    ),
    pairs AS (SELECT doc_id, p.prev AS prev, p.term AS term FROM plist),
    v AS (SELECT CAST(COUNT(DISTINCT t) AS DOUBLE) AS v
          FROM (SELECT unnest(string_split(text, ' ')) AS t
                FROM documents)),
    w AS (
      SELECT doc_id,
             COUNT(*) OVER (PARTITION BY prev, term) AS bc,
             COUNT(*) OVER (PARTITION BY prev) AS cc
      FROM pairs
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(-AVG(ln((bc + {_BIGRAM_K}) / (cc + {_BIGRAM_K} * v.v))), 9)
             AS xent_nats,
           ROUND(exp(-AVG(ln((bc + {_BIGRAM_K}) / (cc + {_BIGRAM_K} * v.v)))),
                 6) AS bigram_ppl
    FROM w CROSS JOIN v
    GROUP BY doc_id ORDER BY doc_id
    """,
    survey_ids=("NS-quality",),
    doc="Bigram language-model scoring with add-k smoothing — the "
    "order-2 upgrade of unigram_logprob (quality filters in the "
    "CCNet/KenLM family are 5-gram; order 2 keeps the oracle exact "
    "while exercising the real shape: CONTEXT-conditional "
    "probabilities P(w|prev) = (c(prev,w)+k)/(c(prev)+kV)). Spark "
    "plan (r11, the unigram_logprob shape — the r10 window form was "
    "a 100×-scale skew hazard, VERDICT r10 #1): bigrams come from "
    "one transform/explode pass (no self-join); the bigram table "
    "c(prev,term) is a map-side-combined groupBy COUNT off the pair "
    "stream (its exchange carries only DISTINCT bigrams — "
    "vocabulary²-bounded, not corpus-bounded — so no single task "
    "ever holds all pairs of a hot context like 'the'), the context "
    "table c(prev) is an aggregate OF that table, and both join back "
    "onto the pair stream through gated_broadcast — above the gate "
    "they degrade to shuffle joins whose skew is the distinct-bigram "
    "distribution, not the raw pair stream. The fact side then folds "
    "per-doc with ONE map-side-combined exchange on doc_id (uniform "
    "key) using the oracle's own per-pair AVG. A second narrow "
    "re-explode of the corpus (counts pass + fact pass) is the "
    "deliberate trade against the r10 window form's three "
    "no-combine corpus-sized exchanges and against checkpointing a "
    "(doc,prev,term) pre-fold that real positional text barely "
    "compresses (SCALING.md §\"bigram_logprob off skewed windows\" "
    "measures all three). "
    "Docs under 2 tokens score no bigrams and drop, same rule both "
    "engines. The smoothing term matters when this LM scores NEW "
    "text (unseen bigrams get k/(c+kV) instead of -inf); on the "
    "training corpus itself it keeps the formula total and pins the "
    "production shape.",
)
def bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pairs = bigram_pairs(docs)
    vocab = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("t")
    ).agg(F.countDistinct("t").cast("double").alias("v"))
    # the count tables come straight off the pair stream with
    # map-side combine; checkpointed so the count-gate, cg and the
    # fact join share one materialization (unlike unigram's dt, a
    # (doc,prev,term) pre-fold would NOT compress positional text
    # and would cost a corpus-sized checkpoint — measured in
    # SCALING.md §"bigram_logprob off skewed windows")
    bg = pairs.groupBy("prev", "term").agg(
        F.count("*").cast("long").alias("bc")
    )
    bg = bg.localCheckpoint()
    cg = bg.groupBy("prev").agg(F.sum("bc").cast("long").alias("cc"))
    lp = F.log(
        (F.col("bc") + _BIGRAM_K) / (F.col("cc") + _BIGRAM_K * F.col("v"))
    )
    return (
        pairs.join(gated_broadcast(bg), ["prev", "term"])
        .join(gated_broadcast(cg), "prev")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.round(-F.avg(lp), 9).alias("xent_nats"),
            F.round(F.exp(-F.avg(lp)), 6).alias("bigram_ppl"),
        )
        .orderBy("doc_id")
    )


# Domain blocklist for the URL filter (C4-style): a curation pipeline
# drops documents whose source domain is on a deny list.
_BLOCKED_HOSTS = ("src4.example.org", "src13.example.org")

_DUCK_URL = (
    "'https://' || source || '.example.org/docs/' "
    "|| CAST(doc_id AS VARCHAR) || '?lang=' || lang "
    "|| '&p=' || CAST(doc_id % 7 AS VARCHAR)"
)


@register(
    "url_parse_filter",
    f"""
    WITH t AS (SELECT doc_id, {_DUCK_URL} AS url FROM documents)
    SELECT doc_id, url,
           regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
           regexp_extract(url, '^[a-z]+://[^/]+(/[^?]*)', 1) AS path,
           regexp_extract(url, '[?&]lang=([^&]*)', 1) AS q_lang,
           CAST(regexp_extract(url, '[?&]p=([^&]*)', 1) AS INTEGER) AS q_p,
           CASE WHEN regexp_extract(url, '^[a-z]+://([^/]+)', 1)
                     IN {_BLOCKED_HOSTS} THEN 1 ELSE 0 END AS is_blocked
    FROM t
    ORDER BY doc_id
    """,
    survey_ids=("NS-urlfilter",),
    doc="URL parsing + domain blocklist filtering (the C4/RefinedWeb "
    "source-curation step): each document's provenance URL (derived "
    "deterministically from its source/id so both engines see "
    "identical input) is decomposed into host / path / query params "
    "with Spark's parse_url — a JVM-side expression, matched in the "
    "oracle by anchored regexes — and flagged against a deny list. "
    "Pure narrow projection: no shuffle beyond the presentation "
    "sort, linear at any corpus size.",
)
def url_parse_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.org/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
        F.lit("&p="),
        (F.col("doc_id") % 7).cast("string"),
    ).alias("url")
    t = docs.select("doc_id", url)
    host = F.parse_url(F.col("url"), F.lit("HOST"))
    return t.select(
        "doc_id",
        "url",
        host.alias("host"),
        F.parse_url(F.col("url"), F.lit("PATH")).alias("path"),
        F.parse_url(F.col("url"), F.lit("QUERY"), F.lit("lang")).alias(
            "q_lang"
        ),
        F.parse_url(F.col("url"), F.lit("QUERY"), F.lit("p"))
        .cast("int")
        .alias("q_p"),
        F.when(host.isin(*_BLOCKED_HOSTS), 1).otherwise(0).alias("is_blocked"),
    ).orderBy("doc_id")


def funnel_base(docs: DataFrame) -> DataFrame:
    """Stateless per-doc funnel evidence (shared with the incremental
    funnel in streaming/funnel.py)."""
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        "source",
        "lang",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.parse_url(
            F.concat(
                F.lit("https://"), F.col("source"), F.lit(".example.org/x")
            ),
            F.lit("HOST"),
        ).alias("host"),
        F.md5(F.col("text").cast("binary")).alias("fp"),
    )


def stateless_flags(base: DataFrame) -> DataFrame:
    """URL / language / heuristic-quality gate flags (no corpus state
    involved; shared with streaming/funnel.py)."""
    return (
        base.withColumn(
            "pass_url",
            F.when(F.col("host").isin(*_BLOCKED_HOSTS), 0).otherwise(1),
        )
        .withColumn(
            "pass_lang", F.when(F.col("lang") == "en", 1).otherwise(0)
        )
        .withColumn(
            "pass_quality",
            F.when(
                F.col("n_tokens").between(20, 400)
                & (
                    F.col("n_distinct") / F.col("n_tokens").cast("double")
                    >= 0.3
                ),
                1,
            ).otherwise(0),
        )
    )


def funnel_counts_agg(
    flagged: DataFrame,
    with_repetition: bool = False,
    with_bigram: bool = False,
) -> DataFrame:
    """Per-source survivor counts from gate flags (shared with
    streaming/funnel.py; every column is a mergeable sum). With
    ``with_repetition`` the Gopher-rule stage slots between the
    heuristic-quality and perplexity gates; with ``with_bigram`` the
    order-2 perplexity stage slots between the unigram-ppl and dedup
    gates (full chain order: url → lang → quality → [repetition] →
    ppl → [bigram] → dedup). Both report survivor counts as TRAILING
    columns (``n_rep``, ``n_big``) so the default six-column schema
    stays a stable prefix."""
    g = F.col("pass_url")
    gl = g * F.col("pass_lang")
    gq = gl * F.col("pass_quality")
    gr = gq * F.col("pass_rep") if with_repetition else gq
    gp = gr * F.col("pass_ppl")
    gb = gp * F.col("pass_big") if with_bigram else gp
    gf = gb * F.col("pass_dedup")
    aggs = [
        F.count("*").alias("n_input"),
        F.sum(g).cast("long").alias("n_url"),
        F.sum(gl).cast("long").alias("n_lang"),
        F.sum(gq).cast("long").alias("n_quality"),
        F.sum(gp).cast("long").alias("n_ppl"),
        F.sum(gf).cast("long").alias("n_final"),
    ]
    if with_repetition:
        aggs.append(F.sum(gr).cast("long").alias("n_rep"))
    if with_bigram:
        aggs.append(F.sum(gb).cast("long").alias("n_big"))
    return flagged.groupBy("source").agg(*aggs)


@register(
    "curation_funnel",
    f"""
    WITH base AS (
      SELECT doc_id, source, lang, text,
             CAST(len({_TOKS}) AS INTEGER) AS n_tokens,
             CAST(len(list_distinct({_TOKS})) AS INTEGER) AS n_distinct,
             regexp_extract('https://' || source || '.example.org/x',
                            '^[a-z]+://([^/]+)', 1) AS host,
             md5(text) AS fp
      FROM documents
    ),
    toks AS (
      SELECT doc_id, unnest({_TOKS}) AS term FROM documents
    ),
    dt AS (SELECT doc_id, term, COUNT(*) AS k FROM toks GROUP BY 1, 2),
    vocab AS (SELECT term, CAST(SUM(k) AS BIGINT) AS c FROM dt GROUP BY 1),
    tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM vocab),
    xent AS (
      SELECT dt.doc_id,
             -SUM(dt.k * ln(vocab.c / tot.n)) / SUM(dt.k) AS x
      FROM dt JOIN vocab USING (term) CROSS JOIN tot
      GROUP BY dt.doc_id
    ),
    flagged AS (
      SELECT b.*,
             CASE WHEN b.host IN {_BLOCKED_HOSTS} THEN 0 ELSE 1 END
               AS pass_url,
             CASE WHEN b.lang = 'en' THEN 1 ELSE 0 END AS pass_lang,
             CASE WHEN b.n_tokens BETWEEN 20 AND 400
                       AND b.n_distinct / CAST(b.n_tokens AS DOUBLE) >= 0.3
                  THEN 1 ELSE 0 END AS pass_quality,
             CASE WHEN xent.x <= {_XENT_CUT} THEN 1 ELSE 0 END AS pass_ppl,
             CASE WHEN ROW_NUMBER() OVER (
                    PARTITION BY b.fp ORDER BY b.doc_id) = 1
                  THEN 1 ELSE 0 END AS pass_dedup
      FROM base b JOIN xent ON b.doc_id = xent.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_input,
           CAST(SUM(pass_url) AS BIGINT) AS n_url,
           CAST(SUM(pass_url * pass_lang) AS BIGINT) AS n_lang,
           CAST(SUM(pass_url * pass_lang * pass_quality) AS BIGINT)
             AS n_quality,
           CAST(SUM(pass_url * pass_lang * pass_quality * pass_ppl)
                AS BIGINT) AS n_ppl,
           CAST(SUM(pass_url * pass_lang * pass_quality * pass_ppl
                    * pass_dedup) AS BIGINT) AS n_final
    FROM flagged
    GROUP BY source
    ORDER BY source
    """,
    survey_ids=("NS-pipeline",),
    doc="End-to-end corpus-curation funnel (the RefinedWeb/CCNet "
    "macro-pipeline over THIS repo's new filters): URL domain "
    "blocklist → language gate → heuristic quality gate (token band "
    "+ vocabulary diversity) → unigram-LM perplexity outlier gate → "
    "exact dedup (first doc per md5 fingerprint wins), reported as "
    "per-source survivor counts at every stage. One corpus pass "
    "computes all per-doc evidence; the unigram branch reuses the "
    "checkpointed doc-term aggregate (one explode, not three); the "
    "dedup gate is one shuffle on the text fingerprint. Stage flags "
    "compose by multiplication, so the funnel is monotone by "
    "construction — n_input ≥ n_url ≥ ... ≥ n_final, asserted "
    "cross-engine by the hash gate.",
)
def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    base = funnel_base(docs)

    # unigram evidence: same checkpointed one-pass shape as
    # unigram_logprob
    dt = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("k"))
        .localCheckpoint()
    )
    vocab = dt.groupBy("term").agg(F.sum("k").cast("long").alias("c"))
    tot = vocab.agg(F.sum("c").cast("double").alias("n"))
    xent = (
        dt.join(gated_broadcast(vocab), "term")
        .join(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            (
                -F.sum(F.col("k") * F.log(F.col("c") / F.col("n")))
                / F.sum("k")
            ).alias("x")
        )
    )

    wdup = Window.partitionBy("fp").orderBy("doc_id")
    flagged = (
        stateless_flags(base.join(xent, "doc_id"))
        .withColumn(
            "pass_ppl", F.when(F.col("x") <= _XENT_CUT, 1).otherwise(0)
        )
        .withColumn(
            "pass_dedup",
            F.when(F.row_number().over(wdup) == 1, 1).otherwise(0),
        )
    )
    return funnel_counts_agg(flagged).orderBy("source")


# ---- RAG / embedding-index chunking --------------------------------------
# Production windows are 256-1024 tokens; 32/24 here so fixture docs
# (10-99 tokens) still produce multi-chunk overlaps — otherwise the
# oracle would never test the stride arithmetic or the short final
# chunk.
_CHUNK_WINDOW = 32
_CHUNK_STRIDE = 24

_CHUNK_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    starts AS (
      SELECT doc_id, toks,
             unnest(range(0, greatest(len(toks), 1), {_CHUNK_STRIDE})) AS s
      FROM toks
    )
    SELECT doc_id,
           CAST(s / {_CHUNK_STRIDE} AS INTEGER) AS chunk_idx,
           CAST(s AS INTEGER) AS chunk_start,
           CAST(least({_CHUNK_WINDOW}, len(toks) - s) AS INTEGER)
             AS chunk_tokens,
           array_to_string(list_slice(toks, s + 1, s + {_CHUNK_WINDOW}), ' ')
             AS chunk_text
    FROM starts
    """


@register(
    "doc_chunking",
    _CHUNK_ORACLE,
    survey_ids=("NS-text",),
    doc="Sliding-window document chunking for RAG / embedding-index "
    "prep: 32-token chunks every 24 tokens (overlapping context), "
    "emitted per doc via sequence→transform→slice higher-order "
    "functions and one explode — shuffle-free, ~len/stride rows per "
    "doc, every token covered, no empty trailing chunk. "
    "operators/text.chunk_documents.",
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nfl_data_pipeline_spark.operators.text import chunk_documents

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(
        d, window=_CHUNK_WINDOW, stride=_CHUNK_STRIDE
    ).select(
        "doc_id",
        "chunk_idx",
        F.col("chunk_start").cast("int").alias("chunk_start"),
        F.col("chunk_tokens").cast("int").alias("chunk_tokens"),
        "chunk_text",
    )


# ---- repetition quality signals (Gopher-rule shape) ----------------------

_REP_DUP_CUT = 0.5  # dup_word_frac above this → repetitive
_REP_BIGRAM_CUT = 0.2  # top_bigram_share above this → repetitive


@register(
    "repetition_signals",
    f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    words AS (SELECT doc_id, unnest(w) AS word FROM t),
    wc AS (
      SELECT doc_id, word, COUNT(*) AS n FROM words GROUP BY doc_id, word
    ),
    wstats AS (
      SELECT doc_id, SUM(n) AS n_words, COUNT(*) AS n_distinct,
             MAX(n) AS max_word
      FROM wc GROUP BY doc_id
    ),
    bigrams AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(w) - 1),
                    i -> w[i] || ' ' || w[i + 1])) AS bg
      FROM t WHERE len(w) >= 2
    ),
    bc AS (SELECT doc_id, bg, COUNT(*) AS n FROM bigrams GROUP BY doc_id, bg),
    bstats AS (SELECT doc_id, MAX(n) AS max_bigram FROM bc GROUP BY doc_id)
    SELECT w.doc_id,
           CAST(w.n_words AS BIGINT) AS n_words,
           1.0 - w.n_distinct / CAST(w.n_words AS DOUBLE) AS dup_word_frac,
           w.max_word / CAST(w.n_words AS DOUBLE) AS top_word_share,
           COALESCE(b.max_bigram, 0) * 2.0 / CAST(w.n_words AS DOUBLE)
             AS top_bigram_share,
           CASE WHEN 1.0 - w.n_distinct / CAST(w.n_words AS DOUBLE)
                     > {_REP_DUP_CUT}
                  OR COALESCE(b.max_bigram, 0) * 2.0
                     / CAST(w.n_words AS DOUBLE) > {_REP_BIGRAM_CUT}
                THEN 1 ELSE 0 END AS repetitive
    FROM wstats w LEFT JOIN bstats b USING (doc_id)
    """,
    survey_ids=(),
    doc="Repetition quality signals — the Gopher-rule family the "
    "length/stopword heuristics and perplexity filter don't cover: "
    "per-doc duplicate-word fraction, most-frequent-word share, and "
    "top-bigram coverage (2·max_bigram/n_words), plus the combined "
    "repetitive flag. Pure posting-list aggregates (explode → "
    "per-doc groupBy with map-side combine — one linear pass per "
    "granularity, no UDF, no window); counts are integers so the "
    "derived ratios are bit-identical cross-engine.",
)
def repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_stats(load(spark, sf_dir, "documents"))


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Per-doc repetition signals + combined ``repetitive`` flag —
    the body of the ``repetition_signals`` query, factored out so the
    incremental funnel's optional repetition stage
    (streaming/funnel.py, ``use_repetition=True``) scores batches
    with EXACTLY the batch query's expressions. Stateless: one linear
    posting-list pass per granularity, no corpus state."""
    t = docs.select("doc_id", F.split("text", " ").alias("w"))
    words = t.select("doc_id", F.explode("w").alias("word"))
    wstats = (
        words.groupBy("doc_id", "word")
        .agg(F.count("*").alias("n"))
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_words"),
            F.count("*").alias("n_distinct"),
            F.max("n").alias("max_word"),
        )
    )
    bigrams = t.filter(F.size("w") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1), "
                "i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
            )
        ).alias("bg"),
    )
    bstats = (
        bigrams.groupBy("doc_id", "bg")
        .agg(F.count("*").alias("n"))
        .groupBy("doc_id")
        .agg(F.max("n").alias("max_bigram"))
    )
    nw = F.col("n_words").cast("double")
    dup_frac = F.lit(1.0) - F.col("n_distinct") / nw
    top_bg = F.coalesce(F.col("max_bigram"), F.lit(0)) * 2.0 / nw
    return wstats.join(bstats, "doc_id", "left").select(
        "doc_id",
        F.col("n_words").cast("bigint").alias("n_words"),
        dup_frac.alias("dup_word_frac"),
        (F.col("max_word") / nw).alias("top_word_share"),
        top_bg.alias("top_bigram_share"),
        F.when(
            (dup_frac > _REP_DUP_CUT) | (top_bg > _REP_BIGRAM_CUT), 1
        )
        .otherwise(0)
        .alias("repetitive"),
    )


# ---- seeded deterministic global shuffle (epoch sharding) -----------------

# Epoch seed + shard count for the registered carrier query; the
# operator takes any seed — a new epoch is a new permutation with
# zero persisted state (operators/shuffle.py).
_SHUF_SEED = 3
_SHUF_SHARDS = 16


def _shuffle_oracle() -> str:
    from nfl_data_pipeline_spark.operators.shuffle import (
        SHUFFLE_P,
        shuffle_params,
    )

    a, b = shuffle_params(_SHUF_SEED)
    return f"""
    WITH k AS (
      SELECT doc_id,
             ({a} * (doc_id % {SHUFFLE_P}) + {b}) % {SHUFFLE_P} AS skey
      FROM documents
    )
    SELECT CAST(skey % {_SHUF_SHARDS} AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
           CAST(MIN(skey) AS BIGINT) AS min_key,
           CAST(MAX(skey) AS BIGINT) AS max_key
    FROM k
    GROUP BY shard
    ORDER BY shard
    """


@register(
    "seeded_shuffle_shards",
    _shuffle_oracle(),
    survey_ids=("NS-shuffle",),
    doc="Deterministic seeded global shuffle into training shards "
    "(operators/shuffle.py): the epoch key is an affine permutation "
    "over Z_(2^31-1) — a map-only exact-int64 expression, so a new "
    "epoch seed re-shuffles 100 TB with ZERO persisted state and no "
    "global sort (one hash shuffle on the shard id + sort WITHIN "
    "each shard). Unlike F.rand(), the key is a pure function of the "
    "doc id: replay-safe under task retries and resumable mid-epoch. "
    "The carrier aggregates per-shard count/checksum/key-range over "
    "the shard-clustered frame; the oracle inlines the same affine "
    "constants.",
)
def seeded_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nfl_data_pipeline_spark.operators.shuffle import shuffled_shards

    docs = load(spark, sf_dir, "documents").select("doc_id")
    sh = shuffled_shards(docs, seed=_SHUF_SEED, n_shards=_SHUF_SHARDS)
    return (
        sh.groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
            F.min("shuffle_key").cast("long").alias("min_key"),
            F.max("shuffle_key").cast("long").alias("max_key"),
        )
        .orderBy("shard")
    )


# ---- exact token-budget mixture (largest-remainder allocation) ------------

# Global token budget to allocate across domains. Deliberately NOT a
# round multiple of anything so the remainder distribution is
# exercised (a budget divisible by the total would make every
# remainder zero and the Hamilton step vacuous).
_MIX_BUDGET = 1_000_003


@register(
    "token_budget_mixture",
    f"""
    WITH d AS (
      SELECT source,
             CAST(SUM(CAST(len({_TOKS}) AS INTEGER)) AS BIGINT)
               AS domain_tokens
      FROM documents
      GROUP BY source
    ),
    q AS (
      -- HUGEINT: budget * domain_tokens overflows int64 for any
      -- domain past ~9e12 tokens (the 100-TB tier), and DuckDB
      -- raises where Spark's non-ANSI long would wrap — both engines
      -- run the product wide (Spark side: DECIMAL(38,0))
      SELECT source, domain_tokens,
             (CAST({_MIX_BUDGET} AS HUGEINT) * domain_tokens)
               // SUM(CAST(domain_tokens AS HUGEINT)) OVER ()
               AS base_quota,
             (CAST({_MIX_BUDGET} AS HUGEINT) * domain_tokens)
               % SUM(CAST(domain_tokens AS HUGEINT)) OVER () AS rem
      FROM d
    ),
    r AS (
      SELECT source, domain_tokens, base_quota,
             {_MIX_BUDGET} - SUM(base_quota) OVER () AS leftover,
             ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
      FROM q
    )
    SELECT source, domain_tokens,
           CAST(base_quota AS BIGINT) AS base_quota,
           CAST(CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
             AS extra,
           CAST(base_quota
                + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
             AS alloc_tokens
    FROM r
    ORDER BY source
    """,
    survey_ids=("NS-mixture-budget",),
    doc="Exact token-budget allocation across domains by the "
    "largest-remainder (Hamilton) method: each domain gets "
    "floor(B·tokens/total), and the leftover B - Σfloor tokens go one "
    "each to the largest remainders (ties to domain name) — so the "
    "per-domain quotas sum EXACTLY to the budget, in pure int64 "
    "arithmetic run WIDE — DECIMAL(38,0) on the Spark side, HUGEINT "
    "in the oracle, because budget*tokens overflows int64 at the "
    "100-TB tier. Complements domain_mixture: that emits continuous "
    "sampling weights, this turns a weight vector into the integer "
    "token ledger a sampler actually consumes. Corpus-sized work is "
    "one map-side-combined aggregation; the windows only ever see one "
    "row per domain.",
)
def token_budget_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    d = docs.groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " ")))
        .cast("long")
        .alias("domain_tokens")
    )
    return hamilton_token_allocation(d, _MIX_BUDGET)


def hamilton_token_allocation(d: DataFrame, budget: int) -> DataFrame:
    """Largest-remainder allocation of ``budget`` over a
    ``(source, domain_tokens)`` frame — the reusable operator behind
    ``token_budget_mixture``. All products and the corpus-total sum
    run in DECIMAL(38,0): ``budget * domain_tokens`` overflows int64
    for any domain past ~2^63/budget tokens (well inside the 100-TB
    tier), where Spark's non-ANSI long arithmetic would WRAP silently
    and break the quotas-sum-to-budget invariant. Verified exact
    against Python big-int arithmetic up to domain_tokens near the
    int64 maximum (tests/test_shuffle.py)."""
    w = Window.partitionBy()
    dec = "decimal(38,0)"
    q = (
        d.withColumn(
            "_scaled", F.col("domain_tokens").cast(dec) * F.lit(budget)
        )
        .withColumn(
            "_total", F.sum(F.col("domain_tokens").cast(dec)).over(w)
        )
        .select(
            "source",
            "domain_tokens",
            F.expr("_scaled DIV _total").alias("base_quota"),
            F.expr("_scaled % _total").alias("rem"),
        )
    )
    leftover = F.lit(budget) - F.sum("base_quota").over(w)
    rk = F.row_number().over(
        Window.partitionBy().orderBy(F.col("rem").desc(), F.col("source"))
    )
    r = q.withColumn("leftover", leftover).withColumn("rk", rk)
    extra = F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
    return r.select(
        "source",
        "domain_tokens",
        F.col("base_quota").cast("long").alias("base_quota"),
        extra.cast("long").alias("extra"),
        (F.col("base_quota") + extra).cast("long").alias("alloc_tokens"),
    ).orderBy("source")


# ---- size-aware seeded shuffle shards -------------------------------------

#: per-shard weight budget (chars) for the sized-shard carrier — the
#: sf0.01 corpus (~150k chars over 500 docs) yields ~15 shards, so
#: both the boundary math and multi-shard aggregation are exercised
_SIZED_TARGET = 10_000


def _shuffle_sized_oracle() -> str:
    from nfl_data_pipeline_spark.operators.shuffle import (
        SHUFFLE_P,
        shuffle_params,
    )

    a, b = shuffle_params(_SHUF_SEED)
    # the oracle may afford the O(n log n) global window at sf0.01;
    # the Spark operator reproduces the identical cumulative weights
    # with NO global sort (range-bucketed two-pass prefix sum)
    return f"""
    WITH k AS (
      SELECT doc_id,
             CAST(LENGTH(text) AS BIGINT) AS w,
             ({a} * (doc_id % {SHUFFLE_P}) + {b}) % {SHUFFLE_P} AS skey
      FROM documents
    ),
    c AS (
      SELECT doc_id, w, skey,
             COALESCE(SUM(w) OVER (
               ORDER BY skey, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS cb
      FROM k
    )
    SELECT CAST(cb // {_SIZED_TARGET} AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(w) AS BIGINT) AS shard_weight,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM c
    GROUP BY shard
    ORDER BY shard
    """


@register(
    "seeded_shuffle_sized",
    _shuffle_sized_oracle(),
    survey_ids=("NS-shuffle",),
    doc="Size-aware training shards over the seeded epoch order "
    "(operators/shuffle.shuffled_shards_weighted): shard boundaries "
    "fall on cumulative document WEIGHT, not row count — equal-row "
    "shards are unequal-byte files under a skewed length "
    "distribution. The cumulative weight over the permuted order is "
    "computed with NO global sort: uniform key-space ranges, "
    "per-range totals (n_ranges rows to the driver), driver prefix "
    "sum, per-range window. Exact int64 DIV throughout (double "
    "division loses bits past 2^53). The oracle affords the global "
    "window at sf0.01 and must match bit-for-bit.",
)
def seeded_shuffle_sized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nfl_data_pipeline_spark.operators.shuffle import (
        shuffled_shards_weighted,
    )

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").cast("long").alias("w")
    )
    sh = shuffled_shards_weighted(
        docs,
        seed=_SHUF_SEED,
        target_weight=_SIZED_TARGET,
        weight_col="w",
        n_ranges=64,
    )
    return (
        sh.groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("w").cast("long").alias("shard_weight"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
        .orderBy("shard")
    )


# ---- deterministic weighted PPS sampling ----------------------------------

_PPS_SEED = 11
_PPS_K = 97  # prime, never divides the corpus weight — exercises
# the fractional comb spacing and the offset arithmetic


def _pps_oracle() -> str:
    from nfl_data_pipeline_spark.operators.sampling import offset_salt
    from nfl_data_pipeline_spark.operators.shuffle import (
        SHUFFLE_P,
        shuffle_params,
    )

    a, b = shuffle_params(_PPS_SEED)
    s = offset_salt(_PPS_SEED)
    # the oracle mirrors the exact integer formula in HUGEINT; the
    # offset r = S % W resolves in-engine (W is data-dependent)
    return f"""
    WITH k AS (
      SELECT doc_id,
             GREATEST(CAST(LENGTH(text) AS BIGINT), 0) AS w,
             ({a} * (doc_id % {SHUFFLE_P}) + {b}) % {SHUFFLE_P} AS skey
      FROM documents
      WHERE doc_id IS NOT NULL
    ),
    c AS (
      SELECT doc_id, w, skey,
             COALESCE(SUM(w) OVER (
               ORDER BY skey, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS cb,
             SUM(w) OVER () AS tw
      FROM k
    ),
    m AS (
      SELECT doc_id, w,
             (CAST(cb + w AS HUGEINT) * {_PPS_K}
                + (2 * CAST(tw AS HUGEINT) - 1 - ({s} % tw)))
               // CAST(tw AS HUGEINT)
           - (CAST(cb AS HUGEINT) * {_PPS_K}
                + (2 * CAST(tw AS HUGEINT) - 1 - ({s} % tw)))
               // CAST(tw AS HUGEINT) AS n_copies
      FROM c
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS weight,
           CAST(n_copies AS BIGINT) AS n_copies
    FROM m
    WHERE n_copies >= 1
    ORDER BY doc_id
    """


@register(
    "pps_sample",
    _pps_oracle(),
    survey_ids=("NS-sampling",),
    doc="Deterministic weighted PPS sample (operators/sampling.py): "
    "exactly k draws from the corpus with inclusion probability "
    "proportional to document weight — systematic sampling over the "
    "seeded affine epoch order, a comb of k equally spaced points on "
    "the cumulative-weight axis. No RNG (replay-safe under task "
    "retries, unlike F.rand/df.sample), no global sort (the "
    "shuffled_shards_weighted two-pass range prefix sum), and exact "
    "DECIMAL(38,0)/HUGEINT arithmetic end-to-end — the sample is "
    "bit-identical across engines, which this oracle proves. "
    "n_copies > 1 reports PPS multiplicity for documents heavier "
    "than one comb step (an epoch repeat count for the loader).",
)
def pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nfl_data_pipeline_spark.operators.sampling import (
        pps_systematic_sample,
    )

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").cast("long").alias("weight")
    )
    s = pps_systematic_sample(
        docs, k=_PPS_K, weight_col="weight", seed=_PPS_SEED, n_ranges=64
    )
    return s.select("doc_id", "weight", "n_copies").orderBy("doc_id")


def _pps_strat_oracle() -> str:
    from nfl_data_pipeline_spark.operators.sampling import offset_salt
    from nfl_data_pipeline_spark.operators.shuffle import (
        SHUFFLE_P,
        shuffle_params,
    )

    a, b = shuffle_params(_PPS_SEED)
    s = offset_salt(_PPS_SEED)
    return f"""
    WITH k AS (
      SELECT doc_id, source,
             GREATEST(CAST(LENGTH(text) AS BIGINT), 0) AS w,
             ({a} * (doc_id % {SHUFFLE_P}) + {b}) % {SHUFFLE_P} AS skey
      FROM documents
      WHERE doc_id IS NOT NULL AND source IS NOT NULL
    ),
    sw AS (SELECT source, SUM(w) AS tw FROM k GROUP BY source),
    q AS (
      SELECT source, tw,
             (CAST({_PPS_K} AS HUGEINT) * tw)
               // SUM(CAST(tw AS HUGEINT)) OVER () AS bq,
             (CAST({_PPS_K} AS HUGEINT) * tw)
               % SUM(CAST(tw AS HUGEINT)) OVER () AS rem
      FROM sw WHERE tw > 0
    ),
    r AS (
      SELECT source, tw, bq,
             {_PPS_K} - SUM(bq) OVER () AS leftover,
             ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
      FROM q
    ),
    quota AS (
      SELECT source, tw,
             CAST(bq + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                  AS BIGINT) AS ks
      FROM r
    ),
    c AS (
      SELECT k.doc_id, k.source, k.w, quota.tw, quota.ks,
             COALESCE(SUM(k.w) OVER (
               PARTITION BY k.source
               ORDER BY k.skey, k.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS cb
      FROM k JOIN quota ON k.source = quota.source
      WHERE quota.ks > 0
    ),
    m AS (
      SELECT doc_id, source, w,
             (CAST(cb + w AS HUGEINT) * ks
                + (2 * CAST(tw AS HUGEINT) - 1 - ({s} % tw)))
               // CAST(tw AS HUGEINT)
           - (CAST(cb AS HUGEINT) * ks
                + (2 * CAST(tw AS HUGEINT) - 1 - ({s} % tw)))
               // CAST(tw AS HUGEINT) AS n_copies
      FROM c
    )
    SELECT doc_id, source,
           CAST(w AS BIGINT) AS weight,
           CAST(n_copies AS BIGINT) AS n_copies
    FROM m
    WHERE n_copies >= 1
    ORDER BY doc_id
    """


@register(
    "pps_stratified",
    _pps_strat_oracle(),
    survey_ids=("NS-sampling",),
    doc="Stratified exactly-k weighted sample "
    "(operators/sampling.pps_stratified_sample): the k draws split "
    "over domains by the largest-remainder method (the sample's "
    "domain mix matches the corpus mix to the integer), then a "
    "systematic PPS comb within each domain over the seeded order. "
    "Per-(stratum, range) totals to the driver, Hamilton + prefix "
    "sums in exact Python ints, offsets re-attached by BROADCAST "
    "join, one hash exchange for the window — no per-stratum global "
    "sort. The oracle re-derives the quotas in HUGEINT SQL and must "
    "match bit-for-bit.",
)
def pps_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nfl_data_pipeline_spark.operators.sampling import (
        pps_stratified_sample,
    )

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.length("text").cast("long").alias("weight")
    )
    s = pps_stratified_sample(
        docs,
        k=_PPS_K,
        weight_col="weight",
        strata_col="source",
        seed=_PPS_SEED,
        n_ranges=64,
    )
    return s.select("doc_id", "source", "weight", "n_copies").orderBy(
        "doc_id"
    )
