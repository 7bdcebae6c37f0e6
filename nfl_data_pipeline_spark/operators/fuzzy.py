"""Fuzzy string matching: exact edit-distance self-join at scale.

Beyond-reference capability (entity resolution / vocabulary
canonicalization for curation pipelines): find every pair of distinct
strings within Levenshtein distance ``k`` WITHOUT the O(n²) cross
join, and without the quadratic candidate blowups naive blocking
hides.

Design — three measured iterations deep (SCALING.md §"Fuzzy-join
blocking"):

1. **q-gram count bound** (Gravano et al., VLDB'01): an edit destroys
   ≤ q positional q-grams, so ed(s,t) ≤ k ⇒ the occurrence-indexed
   gram multisets share ≥ max(|s|,|t|)-q+1-k·q elements. Existence
   joins on ALL grams cost Σ_g df(g)² rows — measured 13M candidates
   at just 22k hex-alphabet names.
2. **Prefix filter** (Ed-Join, Xiao et al. 2008): under ANY global
   total order on (gram, occurrence) elements, the overlap bound
   means some shared element lies in BOTH strings' (k·q+1)-smallest
   prefixes — so each string indexes only k·q+1 elements, ordered by
   ascending document frequency so prefixes hold RARE grams (order
   affects cost only, never the answer).
3. **Length-banded q-ladder** (PassJoin spirit): any FIXED q
   saturates a finite gram space (alphabet^q values) as the corpus
   grows — measured 88M candidates at 100k uniform-hex names with
   q=3. The guarantee needs q ≤ max_len/(k+1), so longer strings can
   use proportionally longer (exponentially more selective) grams:
   strings are banded by length, the band whose range covers a
   pair's MAX length owns the guarantee (both members lie in that
   band's emission range because |len_a - len_b| ≤ k), and bands
   ascend q ≈ len/(k+1) up to an open-ended top band (the prefix
   length k·q+1 is length-independent, so the top band stays exact
   for arbitrarily long strings). The q=1 band covers short strings
   with its own 3-element prefix — never a full shared-character
   join.

Every candidate is verified with the built-in JVM ``levenshtein``;
blocking affects cost only, never the answer (brute-force equality in
tests/test_fuzzy.py; planted recall 1.0 at 110k strings in
SCALING.md §"Fuzzy-join blocking"). The optional ``max_df`` cap
drops ultra-hot grams from candidate generation — same contract as
jaccard_pairs' hot-shingle cap: bounded buckets, documented recall
loss (a pair found ONLY via capped grams is missed); default None
keeps the join exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _q_ladder(q_min: int, q_max: int = 32) -> list[int]:
    """Ascending gram sizes: 1 (short strings), then q_min growing
    ×4/3 — each band's gram space is alphabet^q, so selectivity keeps
    pace with string length."""
    qs = [1, q_min]
    while qs[-1] < q_max:
        qs.append(min(q_max, max(qs[-1] + 1, (qs[-1] * 4) // 3)))
    return qs


def edit_distance_pairs(
    df: DataFrame,
    str_col: str,
    k: int = 2,
    q: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """All pairs of DISTINCT values of ``str_col`` with
    ``levenshtein ≤ k`` — returns ``(s_a, s_b, edit_dist)`` with
    ``s_a < s_b``. Exact for ``max_df=None``; see module docstring
    for the banded prefix-filter design. ``q`` is the base gram size
    of the first multi-char band (the ladder ascends from it).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if q < 2:
        raise ValueError("q must be >= 2 (q=1 is the built-in short band)")
    s = (
        df.select(F.col(str_col).alias("s"))
        .filter(F.col("s").isNotNull())
        .distinct()
        .withColumn("slen", F.length("s"))
    )
    # prune bands the corpus can't populate (one tiny aggregate job):
    # a band owns pairs with max length ≥ its lo, so lo > max_len ⇒
    # no pairs, drop the band outright
    row = s.agg(F.max("slen").alias("m")).first()
    max_len = int(row["m"]) if row and row["m"] is not None else 0

    def band_lo(band_q: int) -> int:
        return band_q * (k + 1) if band_q > 1 else k + 1

    ladder = [x for x in _q_ladder(q) if band_lo(x) <= max_len]

    # ---- ALL bands in ONE pipeline -------------------------------------
    # band_q joins every partition key, so the number of shuffles is
    # CONSTANT in the band count (the per-band-subplan version paid
    # ~4 shuffles × bands of pure stage overhead — measured 4.9 s on a
    # 128-string corpus). Each string emits a row per band whose
    # emission range [lo − k, hi] covers it (≤ 2 bands per string);
    # the gram size then branches on band_q inside one expression.
    # An EMPTY ladder (empty corpus, all-null column, or every string
    # shorter than any band's minimum pair length) owns no pairs and
    # its zero-branch CASE would not even parse — skip the banded
    # pipeline outright and let the tiny leg answer alone.
    if ladder:
        memberships = []
        for i, band_q in enumerate(ladder):
            lo = band_lo(band_q)
            hi = (
                ladder[i + 1] * (k + 1) - 1
                if i + 1 < len(ladder)
                else None
            )
            cond = f"slen >= {max(band_q, lo - k)}"
            if hi is not None:
                cond += f" AND slen <= {hi}"
            memberships.append(f"CASE WHEN {cond} THEN {band_q} END")
        banded = s.withColumn(
            "band_q",
            F.explode(
                F.array_compact(
                    F.array(*[F.expr(m) for m in memberships])
                )
            ),
        )
        gram_cases = " ".join(
            f"WHEN {bq} THEN transform(sequence(1, length(s) - {bq} + 1), "
            f"i -> substring(s, i, {bq}))"
            for bq in ladder
        )
        post = banded.select(
            "s",
            "slen",
            "band_q",
            F.posexplode(F.expr(f"CASE band_q {gram_cases} END")).alias(
                "_pos", "g"
            ),
        ).withColumn(
            "occ",
            F.row_number().over(
                Window.partitionBy("band_q", "s", "g").orderBy("_pos")
            ),
        )
        df_tab = post.groupBy("band_q", "g").agg(
            F.count("*").alias("_gdf")
        )
        if max_df is not None:
            df_tab = df_tab.filter(F.col("_gdf") <= max_df)
        prefix = (
            post.join(df_tab, ["band_q", "g"])
            .withColumn(
                "_rk",
                F.row_number().over(
                    Window.partitionBy("band_q", "s").orderBy(
                        "_gdf", "g", "occ"
                    )
                ),
            )
            .filter(F.col("_rk") <= k * F.col("band_q") + 1)
            .select("band_q", "s", "slen", "g", "occ")
        )
        a = prefix.select(
            "band_q", F.col("s").alias("s_a"), F.col("slen").alias("la"),
            "g", "occ",
        )
        b = prefix.select(
            "band_q", F.col("s").alias("s_b"), F.col("slen").alias("lb"),
            "g", "occ",
        )
        cand = (
            a.join(b, ["band_q", "g", "occ"])
            .filter(
                (F.col("s_a") < F.col("s_b"))
                & (F.abs(F.col("la") - F.col("lb")) <= k)
            )
            .select("s_a", "s_b")
        )
    else:
        from nfl_data_pipeline_spark.operators.localframe import (
            empty_frame,
        )

        cand = empty_frame(s.sparkSession, "s_a string, s_b string")
    # strings of len ≤ k: any length-compatible pair is within
    # distance max(la, lb) ≤ k automatically; the bucket is bounded by
    # the alphabet (|Σ|^k) so a keyless join over it stays tiny.
    tiny = s.filter(F.col("slen") <= k).withColumn("_one", F.lit(1))
    leg_tiny = (
        tiny.select(F.col("s").alias("s_a"), "_one")
        .join(tiny.select(F.col("s").alias("s_b"), "_one"), "_one")
        .filter(F.col("s_a") < F.col("s_b"))
        .select("s_a", "s_b")
    )
    return (
        cand.unionByName(leg_tiny)
        .distinct()
        .withColumn(
            "edit_dist", F.levenshtein(F.col("s_a"), F.col("s_b"))
        )
        .filter(F.col("edit_dist") <= k)
        .select("s_a", "s_b", F.col("edit_dist").cast("int").alias("edit_dist"))
    )
