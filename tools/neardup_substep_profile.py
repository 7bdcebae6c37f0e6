"""Per-internal-step attribution of one neardup-gate batch (the hot
sub-step found by tools/curation_substep_profile.py). Mirrors
streaming/neardup.process_neardup_batch with profiling seams."""

from __future__ import annotations

import shutil
import sys
import tempfile

sys.path.insert(0, "/root/repo")

from tools.stage_profile import print_profile, profile  # noqa: E402


def main() -> None:
    import os

    from pyspark.sql import functions as F

    from nfl_data_pipeline_spark import benchpipes
    from nfl_data_pipeline_spark.catalog import load
    from nfl_data_pipeline_spark.operators.dedup import (
        _materialized_sids,
        connected_components,
        registry_winner_verdicts,
        with_minhash_signature,
    )
    from nfl_data_pipeline_spark.session import get_spark
    from nfl_data_pipeline_spark.streaming.curation import (
        CurationState,
        process_curation_batch,
    )
    from nfl_data_pipeline_spark.streaming.funnel import gate_flags
    from nfl_data_pipeline_spark.streaming.curation import _surviving_docs
    from nfl_data_pipeline_spark.streaming.neardup import (
        GATE_PERMS,
        _SIG,
        _band_rows,
        _exact_jaccard,
    )

    spark = get_spark(
        app_name="neardup-substep", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    warm = tempfile.mkdtemp(prefix="ndsub_warm_")
    scratch = tempfile.mkdtemp(prefix="ndsub_")
    try:
        benchpipes.incremental_curation(spark, warm)  # session warm-up
        sf_dir = os.environ.get(
            "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
        )
        docs_all = load(spark, sf_dir, "documents")
        state = CurationState(
            scratch + "_curation_state", track_frequent=True
        )
        # batch 0 through the real composed step to build state
        process_curation_batch(
            spark,
            docs_all.filter(F.col("doc_id") % 2 == 0),
            state,
            "bench-0",
        )
        docs = docs_all.filter(F.col("doc_id") % 2 == 1)
        flagged = gate_flags(spark, docs, state.funnel)
        flagged = flagged.localCheckpoint(eager=True)
        survivors = _surviving_docs(docs, flagged).localCheckpoint(
            eager=True
        )

        nd = state.neardup
        batch_sids = _materialized_sids(survivors, "text", 3)
        sig = with_minhash_signature(batch_sids, GATE_PERMS).select(
            "doc_id", *_SIG
        )
        bands = _band_rows(sig).select(
            "doc_id", "band_id", "h_lo", "h_hi"
        )
        box = {}
        out = []
        out.append(
            profile(
                spark,
                lambda: box.setdefault(
                    "bands", bands.localCheckpoint(eager=True)
                ),
                "bands ckpt (sids+32perm+explode)",
            )
        )
        bands_ck = box["bands"]
        band_key = ["band_id", "h_lo", "h_hi"]
        stored = nd.sigs.read(spark)
        intra = (
            bands_ck.alias("a")
            .join(bands_ck.alias("b"), band_key)
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        )
        cands = intra.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        ).distinct()
        if stored is not None:
            cross = (
                bands_ck.alias("a")
                .join(stored.alias("b"), band_key)
                .filter(F.col("a.doc_id") != F.col("b.doc_id"))
                .select(
                    F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                )
                .distinct()
            )
            cands = cands.unionByName(cross)
        side = batch_sids.select("doc_id", "sids")
        reg_sids = nd.sids.read(spark)
        if reg_sids is not None:
            side = side.unionByName(reg_sids.select("doc_id", "sids"))
        edges = (
            cands.join(
                side.select(
                    F.col("doc_id").alias("doc_a"),
                    F.col("sids").alias("a_sids"),
                ),
                "doc_a",
            )
            .join(
                side.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("sids").alias("b_sids"),
                ),
                "doc_b",
            )
            .filter(_exact_jaccard() >= 0.5)
            .select("doc_a", "doc_b")
        )
        out.append(
            profile(
                spark,
                lambda: box.setdefault(
                    "comps", connected_components(edges.distinct())
                ),
                "edges -> connected_components (persist+count+collect+ckpt)",
            )
        )
        reg_nodes = (
            stored.select("doc_id")
            .distinct()
            .withColumn("_reg", F.lit(1))
            if stored is not None
            else None
        )
        # NOTE: registry_winner_verdicts calls connected_components
        # itself; to isolate the verdict tail we pass the same edges
        # (the memo above is NOT reused — this re-pays components, so
        # subtract the previous block's wall when reading this row).
        out.append(
            profile(
                spark,
                lambda: box.setdefault(
                    "verd",
                    registry_winner_verdicts(
                        spark, sig.select("doc_id"), edges, reg_nodes
                    ),
                ),
                "registry_winner_verdicts (incl. repeated components)",
            )
        )
        verdicts = box["verd"]
        kept = verdicts.filter(F.col("keep") == 1).select("doc_id")
        new_sids = (
            batch_sids.select("doc_id", "sids")
            .join(kept, "doc_id")
            .withColumn(
                "bucket",
                F.pmod(F.xxhash64("doc_id"), F.lit(16)).cast("long"),
            )
        )
        out.append(
            profile(
                spark,
                lambda: nd.sids.stage_files_auto(
                    new_sids, "bucket", site="prof:sids"
                ),
                "stage sids append",
            )
        )
        new_rows = bands_ck.join(kept, "doc_id").withColumn(
            "bucket",
            F.pmod(F.xxhash64("h_lo", "h_hi"), F.lit(16)).cast("long"),
        )
        out.append(
            profile(
                spark,
                lambda: nd.sigs.stage_files_auto(
                    new_rows, "bucket", site="prof:sigs"
                ),
                "stage sigs append",
            )
        )
        for p in out:
            print_profile(p, top=6)
    finally:
        shutil.rmtree(warm, ignore_errors=True)
        shutil.rmtree(scratch, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
