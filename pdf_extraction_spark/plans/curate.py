"""Resumable curation pipeline: quality gate -> PII scrub -> exact dedup,
with per-group manifests (lineage, drop metrics, checksums) — the
training-data curation counterpart of plans/pipeline.run_extraction.

Commit groups are assigned by **fingerprint hash**, not doc-id hash: all
exact duplicates of a document share its fingerprint, so they land in the
same commit group and per-group dedup IS global dedup — no cross-group
reconciliation pass, and a resumed job stays exactly-once per group.

All uncommitted groups run in ONE input pass (partitionBy(group) staging
write + ordered atomic per-group rename commits), and all drop metrics
come from ``df.observe`` nodes inside that one write job (per-group
totals via conditional aggregates) — one corpus scan for any G, no extra
count jobs, no re-read of the output.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pdf_extraction_spark.functions.text import content_fingerprint
from pdf_extraction_spark.operators.text_analysis import (
    pii_scrub,
    quality_filter,
)
from pdf_extraction_spark.plans.pipeline import (
    _commit_staged_groups,
    committed_groups,
)


def compact_curated_group(
    spark: SparkSession,
    out_path: str,
    group: int,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Checksum-verified compaction for a committed CURATION group:
    ``plans.pipeline.compact_group`` with the curation manifest's
    fingerprint checksum (bit_xor of xxhash64(fingerprint)) in place of
    the extraction semantic-column checksum."""
    from pdf_extraction_spark.plans.pipeline import compact_group

    return compact_group(
        spark,
        out_path,
        group,
        target_file_bytes=target_file_bytes,
        checksum_exprs=[
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("fingerprint")).alias("checksum"),
        ],
    )


# NB: the dedup key (curated_docs) and the commit-group key
# (run_curation) are both built from the shared content_fingerprint
# expression (functions/text.py) — that is what makes per-group dedup
# equal global dedup.  Fingerprinting any *derived* text (e.g.
# post-PII-scrub) would break it: two raw-distinct docs can scrub to
# identical text, share the derived fingerprint, yet hash to different
# groups and both survive.


def curated_docs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 10,
    min_score: int = 50,
) -> DataFrame:
    """The curation dataflow for one slice, as a single declarative plan:

    gate (quality_filter join) -> keep-filter -> fingerprint (RAW text,
    ``content_fingerprint``) -> pii_scrub -> dedup (row_number over
    fingerprint, keep min id).

    One shuffle total (the dedup window on fingerprint); everything else
    is scan-local.  Returns every surviving row plus its fingerprint.
    """
    gated = docs.join(
        quality_filter(docs, id_col, text_col, min_tokens=min_tokens, min_score=min_score),
        id_col,
    )
    kept = gated.filter(F.col("keep")).drop("keep", "drop_reasons")
    # fingerprint the RAW text (the same expression run_curation's group
    # key is derived from) BEFORE the scrub — see content_fingerprint
    fp = kept.withColumn("fingerprint", content_fingerprint(text_col))
    scrubbed = fp.join(pii_scrub(fp, id_col, text_col), id_col).drop(text_col)
    rn = F.row_number().over(
        Window.partitionBy("fingerprint").orderBy(F.col(id_col))
    )
    return scrubbed.withColumn("_rn", rn).filter(F.col("_rn") == 1).drop("_rn")


def run_curation(
    spark: SparkSession,
    docs_path: str,
    out_path: str,
    *,
    groups: int = 4,
    resume: bool = False,
    min_tokens: int = 10,
    min_score: int = 50,
    fail_after_group: int | None = None,
    groups_per_pass: int | None = None,
) -> dict:
    """Run the curation pipeline with commit-group resume semantics.

    Like ``plans.pipeline.run_extraction``, all uncommitted groups run in
    ONE input pass by default: one curation job writes
    ``partitionBy(group)`` into a staging directory (per-group output
    metrics from conditional observe aggregates in the write's result
    stage, per-group input counts from one aggregate over the input
    slice), then groups are committed in
    order by atomic rename + manifest — one corpus scan for any G, the
    same per-group resume granularity.  ``groups_per_pass`` bounds how
    many groups share a pass (extra scans buy commit barriers on very
    long jobs).

    The group key derives from the SAME fingerprint expression dedup keys
    on (``content_fingerprint`` of the raw text), so duplicates can never
    be split across commit groups — the fingerprint window inside one
    pass is therefore exactly global dedup, and the output is independent
    of ``groups``.
    """
    docs = spark.read.parquet(docs_path)
    group_key = F.pmod(F.xxhash64(content_fingerprint("text")), F.lit(groups))
    done = committed_groups(out_path) if resume else set()
    todo = [g for g in range(groups) if g not in done]
    summary = {"groups": groups, "skipped": sorted(done), "committed": []}
    committed_count = 0
    if not groups_per_pass:
        groups_per_pass = max(1, len(todo))

    for i in range(0, len(todo), groups_per_pass):
        batch = todo[i : i + groups_per_pass]
        t0 = time.monotonic()
        slice_df = docs.filter(group_key.isin([int(g) for g in batch]))

        # n_input per group from a real aggregate over the slice: an
        # observation below curated_docs' joins would run in shuffle-map
        # and broadcast stages, where a re-run task applies its count again
        n_input = {
            int(r["g"]): int(r["n"])
            for r in slice_df.groupBy(group_key.alias("g"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        curated = curated_docs(
            slice_df, min_tokens=min_tokens, min_score=min_score
        ).withColumn("group", F.pmod(F.xxhash64("fingerprint"), F.lit(groups)))

        out_metrics = []
        for g in batch:
            is_g = F.col("group") == g
            out_metrics += [
                F.count(F.when(is_g, F.lit(1))).alias(f"n_out_{g}"),
                F.bit_xor(F.when(is_g, F.xxhash64("fingerprint"))).alias(
                    f"chk_{g}"
                ),
                F.sum(F.when(is_g, F.col("n_emails"))).alias(f"em_{g}"),
                F.sum(F.when(is_g, F.col("n_phones"))).alias(f"ph_{g}"),
            ]
        obs_out = Observation(f"curate-pass-{i}-out")
        curated = curated.observe(obs_out, *out_metrics)

        staging = os.path.join(out_path, "_staging")
        curated.write.mode("overwrite").partitionBy("group").parquet(staging)
        m_out = obs_out.get
        pass_wall = round(time.monotonic() - t0, 3)

        def manifest_for(g):
            n_in, n_out = n_input.get(g, 0), int(m_out[f"n_out_{g}"])
            return {
                "group": g,
                "n_input": n_in,
                "n_rows": n_out,
                "n_dropped": n_in - n_out,
                "emails_redacted": int(m_out[f"em_{g}"] or 0),
                "phones_redacted": int(m_out[f"ph_{g}"] or 0),
                "output_checksum": int(m_out[f"chk_{g}"] or 0),
                # this group's share of the shared pass (aggregatable);
                # the full pass wall lives under pass_wall_sec
                "wall_sec": round(pass_wall / len(batch), 3),
                "pass_wall_sec": pass_wall,
                "pass_group_count": len(batch),
            }

        committed_count = _commit_staged_groups(
            spark,
            staging,
            out_path,
            batch,
            empty_schema=curated.drop("group").schema,
            manifest_for=manifest_for,
            summary=summary,
            committed_count=committed_count,
            fail_after_group=fail_after_group,
        )
    return summary
