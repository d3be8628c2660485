"""End-to-end curation pipeline test: quality gate -> PII scrub -> exact
dedup with commit-group resume, cross-checked against an independent
DuckDB recomputation (gate + dedup) on the same input parquet.
"""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def curate_input(spark, tmp_path_factory):
    """sf0.001 documents + 10 byte-identical duplicate copies (new ids)."""
    path = str(tmp_path_factory.mktemp("curate") / "docs.parquet")
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    dups = (
        d.orderBy("doc_id")
        .limit(10)
        .select(
            (F.col("doc_id") + 10000).alias("doc_id"),
            "text",
            "lang",
            "source",
            "n_chars",
        )
    )
    d.select("doc_id", "text", "lang", "source", "n_chars").unionByName(
        dups
    ).coalesce(1).write.mode("overwrite").parquet(path)
    return path


def _duckdb_expected(path):
    """Independent recomputation: gate (same rules) then min-id per
    normalized-text fingerprint."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    import __spark_entry__ as e

    gate = e.oracle_sql()["quality_filter"]
    rows = con.execute(
        f"""
        WITH gate AS ({gate}),
        kept AS (
          SELECT d.doc_id, d.text FROM documents d
          JOIN gate g ON g.doc_id = d.doc_id WHERE g.keep
        ),
        fp AS (
          SELECT doc_id,
                 md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
          FROM kept
        )
        SELECT f, min(doc_id) AS keep_id, count(*) AS n FROM fp GROUP BY f
        """
    ).fetchall()
    return {r[0]: (r[1], r[2]) for r in rows}


def test_curation_kill_resume_and_oracle(spark, curate_input, tmp_path):
    from pdf_extraction_spark.plans.curate import run_curation

    out = str(tmp_path / "curated")

    # killed after one committed group…
    with pytest.raises(RuntimeError, match="simulated kill"):
        run_curation(spark, curate_input, out, groups=3, fail_after_group=1)
    # …resume completes the remaining groups without re-doing group 0
    summary = run_curation(spark, curate_input, out, groups=3, resume=True)
    assert len(summary["skipped"]) == 1
    assert len(summary["skipped"]) + len(summary["committed"]) == 3

    got = spark.read.parquet(os.path.join(out, "group=*")).collect()
    expected = _duckdb_expected(curate_input)

    # every fingerprint appears exactly once, with the MIN doc id kept
    assert len(got) == len(expected)
    for r in got:
        keep_id, _ = expected[r["fingerprint"]]
        assert r["doc_id"] == keep_id
    # the 10 planted duplicates were dropped by dedup, not by the gate:
    # every planted copy shares a fingerprint whose count is 2
    n_dup_fps = sum(1 for _, (_, n) in expected.items() if n >= 2)
    assert n_dup_fps > 0  # plants actually collided after the gate

    # manifests agree with the data
    import json

    mdir = os.path.join(out, "_manifests")
    manifests = [json.load(open(os.path.join(mdir, f))) for f in os.listdir(mdir)]
    assert sum(m["n_rows"] for m in manifests) == len(got)
    assert all(m["n_input"] >= m["n_rows"] for m in manifests)


def test_curation_rerun_invariance(spark, curate_input, tmp_path):
    """A fresh run and a killed+resumed run commit identical checksums."""
    from pdf_extraction_spark.plans.curate import run_curation
    import json

    out_a = str(tmp_path / "a")
    out_b = str(tmp_path / "b")
    run_curation(spark, curate_input, out_a, groups=2)
    with pytest.raises(RuntimeError):
        run_curation(spark, curate_input, out_b, groups=2, fail_after_group=1)
    run_curation(spark, curate_input, out_b, groups=2, resume=True)

    def checks(out):
        mdir = os.path.join(out, "_manifests")
        return {
            json.load(open(os.path.join(mdir, f)))["group"]: json.load(
                open(os.path.join(mdir, f))
            )["output_checksum"]
            for f in os.listdir(mdir)
        }

    assert checks(out_a) == checks(out_b)


def test_pii_twins_and_groups_invariance(spark, tmp_path):
    """The dedup key and the commit-group key must be the SAME expression
    (content_fingerprint of the raw text), making the output independent
    of the ``groups`` count.

    Regression: when the dedup key was the scrubbed-text fingerprint while
    the group key hashed raw text, documents differing ONLY in PII scrubbed
    to identical text (one shared dedup fingerprint) yet hashed to
    different groups — whether one or both survived depended on where the
    group boundary fell, i.e. on ``groups``.
    """
    from pdf_extraction_spark.operators.text_analysis import quality_filter
    from pdf_extraction_spark.plans.curate import run_curation

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    base = (
        d.join(quality_filter(d, "doc_id", "text"), "doc_id")
        .filter(F.col("keep"))
        .orderBy("doc_id")
        .limit(30)
        .drop("keep", "drop_reasons")
    )
    base_text = base.orderBy("doc_id").first()["text"]

    def planted(doc_id, text):
        return spark.createDataFrame(
            [(doc_id, text, "en", "src0", len(text))],
            "doc_id long, text string, lang string, source string, n_chars long",
        )

    # pair differing ONLY in PII -> identical scrubbed text, distinct raw
    # fingerprints -> BOTH must survive, in every grouping
    t_alice = base_text + " contact alice@example.com now"
    t_bob = base_text + " contact bob@other.org now"
    # byte-identical twins carrying PII -> ONE must survive
    t_twin = base_text + " reach carol@example.io today"
    docs = base
    for i, t in enumerate([t_alice, t_bob, t_twin, t_twin]):
        docs = docs.unionByName(planted(9001 + i, t))
    src = str(tmp_path / "docs.parquet")
    docs.coalesce(1).write.mode("overwrite").parquet(src)

    results = {}
    for groups in (1, 5):
        out = str(tmp_path / f"out-g{groups}")
        run_curation(spark, src, out, groups=groups)
        rows = spark.read.parquet(os.path.join(out, "group=*")).collect()
        results[groups] = sorted((r["doc_id"], r["fingerprint"]) for r in rows)

    # output independent of the group count
    assert results[1] == results[5]
    by_id = {doc_id: fp for doc_id, fp in results[1]}
    # both PII-differing docs survive (they are distinct raw documents)...
    assert 9001 in by_id and 9002 in by_id
    assert by_id[9001] != by_id[9002]
    # ...while the raw-identical twins deduped to the min id
    assert 9003 in by_id and 9004 not in by_id
    # and the scrub actually fired on the planted docs (the pair would
    # trivially "both survive" if the emails were never redacted)
    scrubbed = {
        r["doc_id"]: (r["scrubbed_text"], r["n_emails"])
        for r in spark.read.parquet(
            os.path.join(str(tmp_path / "out-g1"), "group=*")
        ).collect()
        if r["doc_id"] in (9001, 9002)
    }
    assert scrubbed[9001] == scrubbed[9002]
    assert scrubbed[9001][1] == 1


def test_compact_group_preserves_content(spark, tmp_path):
    """Compaction rewrites a committed group to fewer files; content is
    checksum-verified before the swap and byte-identical after."""
    import json
    import os

    from pdf_extraction_spark.plans.pipeline import (
        compact_group,
        run_extraction,
    )
    from fixtures.gen import write_pages

    pages = str(tmp_path / "pages.parquet")
    write_pages(pages, 200)
    out = str(tmp_path / "out")
    run_extraction(spark, pages, out, groups=2, num_partitions=16)

    gdir = os.path.join(out, "group=0")
    before = {
        r["url"]: r["extracted_text"]
        for r in spark.read.parquet(gdir).collect()
    }
    files_before = len([f for f in os.listdir(gdir) if f.endswith(".parquet")])
    assert files_before > 1

    res = compact_group(spark, out, 0, target_file_bytes=512 * 1024 * 1024)
    files_after = len([f for f in os.listdir(gdir) if f.endswith(".parquet")])
    assert files_after == res["n_files"] == 1
    after = {
        r["url"]: r["extracted_text"]
        for r in spark.read.parquet(gdir).collect()
    }
    assert after == before
    m = json.load(open(os.path.join(out, "_manifests", "group-0.json")))
    assert m["compacted_files"] == 1 and m["n_rows"] == len(after)


def test_compact_curated_group(spark, curate_input, tmp_path):
    """Curation-output compaction: fingerprint-checksum verified before
    the swap; content byte-identical after; manifest updated."""
    import json

    from pdf_extraction_spark.plans.curate import (
        compact_curated_group,
        run_curation,
    )

    out = str(tmp_path / "curated")
    run_curation(spark, curate_input, out, groups=2)
    gdir = os.path.join(out, "group=0")
    before = {
        r["doc_id"]: (r["fingerprint"], r["scrubbed_text"])
        for r in spark.read.parquet(gdir).collect()
    }
    res = compact_curated_group(spark, out, 0, target_file_bytes=512 * 1024 * 1024)
    assert res["n_files"] == 1 and res["n_rows"] == len(before)
    after = {
        r["doc_id"]: (r["fingerprint"], r["scrubbed_text"])
        for r in spark.read.parquet(gdir).collect()
    }
    assert after == before
    m = json.load(open(os.path.join(out, "_manifests", "group-0.json")))
    assert m["compacted_files"] == 1 and m["n_rows"] == len(after)


def _initial_plan_tree(description: str) -> list[tuple[int, str]]:
    """(depth, node name) of each line of the pre-AQE plan tree in a SQL
    execution's plan description (the whole tree when it is not adaptive)."""
    text = description.split("\n\n")[0]
    if "== Initial Plan ==" in text:
        text = text[text.index("== Initial Plan ==") :].split("\n", 1)[1]
    nodes = []
    for line in text.splitlines():
        name = line.lstrip(" :+-|")
        if name and not name.startswith("=="):
            nodes.append((len(line) - len(name), name.split(" (")[0]))
    return nodes


def test_curation_counts_input_outside_shuffle_map_stages(
    spark, curate_input, tmp_path
):
    """No observation of a curation pass sits below an exchange or a join
    in the pre-AQE plan (a re-run map task would apply its metrics again),
    and ``n_input`` still counts every input row of its group."""
    from pdf_extraction_spark.plans.curate import run_curation

    store = spark._jsparkSession.sharedState().statusStore()
    seen = store.executionsList().size()
    out = str(tmp_path / "out")
    run_curation(spark, curate_input, out, groups=3)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = store.executionsList()
    observed = 0
    for i in range(seen, execs.size()):
        tree = _initial_plan_tree(execs.apply(i).physicalPlanDescription())
        for k, (depth, name) in enumerate(tree):
            if name != "CollectMetrics":
                continue
            observed += 1
            ancestors, level = [], depth
            for d, n in reversed(tree[:k]):
                if d < level:
                    ancestors.append(n)
                    level = d
            assert not any("Exchange" in n or "Join" in n for n in ancestors), tree
    assert observed == 1  # the output metrics, in the write's result stage

    import json

    n_input = sum(
        json.load(open(os.path.join(out, "_manifests", f"group-{g}.json")))["n_input"]
        for g in range(3)
    )
    assert n_input == spark.read.parquet(curate_input).count()
