"""Lineage counted by the write job: a commit pass decodes its input once,
its (group, file) lineage matches the pre-pass aggregate it replaces, and
each of its Spark jobs is named."""

from __future__ import annotations

import datetime
import glob
import io
import json
import os
import tarfile

import pytest
from pyspark.sql import functions as F

from pdf_extraction_spark.plans import pipeline
from pdf_extraction_spark.plans.pipeline import (
    MANIFEST_DIR,
    committed_groups,
    run_extraction,
)
from pdf_extraction_spark.sources.warc import write_pages_warc

_WALL = ("wall_sec", "pass_wall_sec")
_HTML = b"<html><body><p>" + b"lineage page words " * 8 + b"</p></body></html>"


def _warc_dir(root, archives=3, pages=8):
    d = root / "warc"
    d.mkdir()
    ts = datetime.datetime(2026, 3, 1, 12, 0, 0)
    for k in range(archives):
        write_pages_warc(
            [(f"http://{k}.example/{j}", ts, _HTML) for j in range(pages)],
            str(d / f"seg-{k}.warc.gz"),
        )
    return str(d / "*.warc.gz")


def _tar_dir(root, archives=3, members=8):
    d = root / "tar"
    d.mkdir()
    for k in range(archives):
        with tarfile.open(d / f"part-{k}.tar", "w", format=tarfile.PAX_FORMAT) as t:
            for j in range(members):
                info = tarfile.TarInfo(f"doc-{j}.html")
                info.size = len(_HTML)
                t.addfile(info, io.BytesIO(_HTML))
    return str(d / "*.tar")


def _pass_files(out):
    """Every manifest and lineage-pass file of ``out``, wall fields aside."""
    found = {}
    for path in glob.glob(os.path.join(out, MANIFEST_DIR, "*.json")):
        with open(path) as f:
            m = json.load(f)
        found[os.path.basename(path)] = {k: v for k, v in m.items() if k not in _WALL}
    return found


def _jobs_under_tag(spark, action) -> list[int]:
    """Ids of the Spark jobs started while ``action()`` runs."""
    sc = spark.sparkContext
    tag = f"pass-probe-{id(action)}"
    sc.addJobTag(tag)
    try:
        action()
    finally:
        sc.removeJobTag(tag)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return sorted(sc._jsc.sc().statusTracker().getJobIdsForTag(tag))


def test_warc_pass_runs_three_jobs(spark, tmp_path):
    """The archive listing plus the write job's two (the shuffle map
    stage that reads and extracts, and the write): the split table needs
    no shuffle of its own, and lineage comes from the write job's
    observed metrics, not from a decode of its own."""
    src = _warc_dir(tmp_path)
    out = str(tmp_path / "out")
    summary = {}
    jobs = _jobs_under_tag(
        spark,
        lambda: summary.update(
            run_extraction(spark, src, out, input_format="warc", groups=2)
        ),
    )
    manifests = _pass_files(out)
    assert summary["committed"] == [0, 1]
    assert all(manifests[f"group-{g}.json"]["n_rows"] > 0 for g in (0, 1))
    assert len(jobs) == 3, jobs


@pytest.mark.parametrize("detail_limit", [200_000, 1], ids=["detailed", "coarse"])
@pytest.mark.parametrize("fmt", ["warc", "tar", "parquet"])
def test_in_pass_lineage_matches_the_pre_pass_aggregate(
    spark, pages_unit, tmp_path, monkeypatch, fmt, detail_limit
):
    """Manifests and lineage-pass files are the same, wall fields aside,
    whether the write job counts the lineage or the pre-pass aggregate
    (forced by a zero key cap) does."""
    src = {
        "warc": lambda: _warc_dir(tmp_path),
        "tar": lambda: _tar_dir(tmp_path),
        "parquet": lambda: pages_unit,
    }[fmt]()
    kw = dict(
        input_format=fmt, groups=3, lineage_detail_limit=detail_limit
    )
    in_pass = str(tmp_path / "in_pass")
    run_extraction(spark, src, in_pass, **kw)
    monkeypatch.setattr(pipeline, "_IN_PASS_LINEAGE_KEYS", 0)
    pre_pass = str(tmp_path / "pre_pass")
    run_extraction(spark, src, pre_pass, **kw)

    got, want = _pass_files(in_pass), _pass_files(pre_pass)
    assert got == want
    lineage_files = [n for n in got if n.startswith("lineage-pass-")]
    if detail_limit == 1:
        assert lineage_files == ["lineage-pass-0.json"]
    else:
        assert lineage_files == [] and all(
            m["lineage"] for n, m in got.items() if n.startswith("group-")
        )


def test_file_list_that_misses_a_file_fails_the_pass_uncommitted(
    spark, tmp_path, monkeypatch
):
    """A row whose file the pass's file list misses is counted under no
    lineage key; the per-group sum check fails the pass before any group
    commits."""
    src = _warc_dir(tmp_path)
    read_input = pipeline._read_input

    def missing_one(*args):
        docs, extract, files = read_input(*args)
        return docs, extract, sorted(files)[1:]

    monkeypatch.setattr(pipeline, "_read_input", missing_one)
    out = str(tmp_path / "out")
    with pytest.raises(RuntimeError, match="lineage over the pass's 2 input files"):
        run_extraction(spark, src, out, input_format="warc", groups=2)
    assert committed_groups(out) == set()


@pytest.mark.parametrize("in_pass", [True, False], ids=["in_pass", "pre_pass"])
def test_a_tables_own_source_file_column_never_takes_over_lineage(
    spark, pages_unit, tmp_path, monkeypatch, in_pass
):
    """A parquet table carrying a ``source_file`` column of its own:
    every lineage record still names one of the table's part files,
    whether the write job or the pre-pass aggregate counts it."""
    table = str(tmp_path / "table")
    spark.read.parquet(pages_unit).withColumn(
        "source_file", F.lit("file:///elsewhere/seg-0.warc.gz")
    ).repartition(3).write.parquet(table)
    parts = {f"file://{p}" for p in glob.glob(os.path.join(table, "part-0000*"))}
    assert len(parts) == 3
    if not in_pass:
        monkeypatch.setattr(pipeline, "_IN_PASS_LINEAGE_KEYS", 0)
    out = str(tmp_path / "out")
    run_extraction(spark, table, out, groups=3)
    records = [r for m in _pass_files(out).values() for r in m["lineage"]]
    assert {r["input_file"] for r in records} <= parts
    assert sum(r["n_rows"] for r in records) == 200


def test_pass_jobs_are_described_and_the_callers_description_restored(
    spark, tmp_path, monkeypatch
):
    """Each step's jobs carry the pass index and the step in their
    description (read back through the status store); the caller's own
    description is back afterwards, also after the simulated kill."""
    sc = spark.sparkContext
    src = _warc_dir(tmp_path, archives=1, pages=1)  # 1 page, 3 groups: 2 empty
    monkeypatch.setattr(pipeline, "_IN_PASS_LINEAGE_KEYS", 0)
    sc.setJobDescription("caller")
    try:
        jobs = _jobs_under_tag(
            spark,
            lambda: run_extraction(
                spark, src, str(tmp_path / "out"), input_format="warc", groups=3
            ),
        )
        assert sc.getLocalProperty("spark.job.description") == "caller"
        store = sc._jsc.sc().statusStore()
        descriptions = set()
        for j in jobs:
            d = store.job(j).description()
            descriptions.add(d.get() if d.isDefined() else None)
        assert descriptions == {
            "caller",  # the archive listing runs before the first pass
            "run_extraction pass 0: lineage",
            "run_extraction pass 0: write",
            "run_extraction pass 0: empty-group template",
        }

        with pytest.raises(RuntimeError, match="simulated kill"):
            run_extraction(
                spark, src, str(tmp_path / "killed"), input_format="warc",
                groups=3, fail_after_group=1,
            )
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.job.description", None)


def test_row_hash_is_the_committed_checksum_definition(spark):
    """The SQL row hash is the column-expression hash earlier releases
    committed in ``output_checksum``: compaction of an older group checks
    its rewrite against that manifest value."""
    from pdf_extraction_spark.operators.extract import EXTRACT_SCHEMA
    from pdf_extraction_spark.session import local_frame

    rows = [
        ("u1", "html", "text", [("k", "v")], [[("p", "1")]], None, None),
        ("u2", "pdf", None, None, None, None, "boom"),
        ("u3", "text", "", [], [[]], [], ""),
    ]
    df = local_frame(spark, rows, EXTRACT_SCHEMA)
    column_hash = F.xxhash64(
        "url",
        F.coalesce("extracted_text", F.lit("\x00null")),
        F.coalesce(F.to_json("fields"), F.lit("\x00null")),
        F.coalesce(F.to_json("page_fields"), F.lit("\x00null")),
        F.coalesce("error", F.lit("\x00null")),
    )
    got = df.select(
        column_hash.alias("a"), F.expr(pipeline._ROW_HASH_SQL).alias("b")
    ).collect()
    assert all(r["a"] == r["b"] for r in got)


def _python_rows_per_write(spark, run) -> list[int]:
    """The rows each pass's Python node emitted while ``run()`` ran, read
    from the SQL status store: one entry per ``run_extraction`` write."""
    store = spark._jsparkSession.sharedState().statusStore()
    seen = store.executionsList().size()
    run()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = store.executionsList()
    rows = []
    for i in range(seen, execs.size()):
        e = execs.apply(i)
        if not (e.description() or "").endswith(": write"):
            continue
        values = store.executionMetrics(e.executionId())
        nodes = store.planGraph(e.executionId()).allNodes()
        for j in range(nodes.size()):
            node = nodes.apply(j)
            if node.name() != "MapInArrow":
                continue
            metrics = node.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                if m.name() == "number of output rows":
                    rows.append(int(values.get(m.accumulatorId()).get()))
    return rows


@pytest.mark.parametrize("fmt", ["warc", "tar"])
def test_partial_passes_extract_each_page_once(spark, tmp_path, fmt):
    """The archive stage reads every page of every pass, but runs the
    kernel only on the pages of the pass's own groups: a
    ``groups_per_pass=1`` run and a resumed run emit one kernel row per
    page of the groups they write, and commit what a single pass does."""
    src = {"warc": _warc_dir, "tar": _tar_dir}[fmt](tmp_path)
    kw = dict(input_format=fmt, groups=4)
    single = str(tmp_path / "single")
    run_extraction(spark, src, single, **kw)
    want = _pass_files(single)
    n_pages = sum(want[f"group-{g}.json"]["n_rows"] for g in range(4))

    per_group = str(tmp_path / "per_group")
    emitted = _python_rows_per_write(
        spark, lambda: run_extraction(spark, src, per_group, groups_per_pass=1, **kw)
    )
    assert emitted == [want[f"group-{g}.json"]["n_rows"] for g in range(4)]
    assert _pass_files(per_group) == {
        n: dict(m, pass_group_count=1) for n, m in want.items()
    }

    resumed = str(tmp_path / "resumed")
    with pytest.raises(RuntimeError, match="simulated kill"):
        run_extraction(
            spark, src, resumed, groups_per_pass=2, fail_after_group=2, **kw
        )
    emitted = _python_rows_per_write(
        spark, lambda: run_extraction(spark, src, resumed, resume=True, **kw)
    )
    assert emitted == [sum(want[f"group-{g}.json"]["n_rows"] for g in (2, 3))]
    assert sum(emitted) < n_pages
    got = _pass_files(resumed)
    for g in range(4):
        assert got[f"group-{g}.json"] == dict(
            want[f"group-{g}.json"], pass_group_count=2
        )


def test_pre_pass_lineage_aggregates_the_reader_not_the_kernel(
    spark, tmp_path, monkeypatch
):
    """Above the key cap, the lineage aggregate reads the archive
    reader's pages (url, html, text, source_file); the kernel's output
    never feeds it, so the lineage job runs no extraction."""
    src = _warc_dir(tmp_path)
    seen = []
    aggregate = pipeline._lineage_aggregate

    def spy(batch_pages, *args):
        seen.append(batch_pages.columns)
        return aggregate(batch_pages, *args)

    monkeypatch.setattr(pipeline, "_IN_PASS_LINEAGE_KEYS", 0)
    monkeypatch.setattr(pipeline, "_lineage_aggregate", spy)
    run_extraction(spark, src, str(tmp_path / "out"), input_format="warc", groups=2)
    assert seen == [["url", "html", "text", "source_file"]]


def test_pass_plan_is_one_python_stage_then_one_exchange(spark, tmp_path):
    """The write job's plan holds one Python node and one exchange above
    it, and each group is written by max(1, num_partitions // groups)
    tasks, one file each."""
    src = _warc_dir(tmp_path)
    store = spark._jsparkSession.sharedState().statusStore()
    seen = store.executionsList().size()
    out = str(tmp_path / "out")
    run_extraction(spark, src, out, input_format="warc", groups=2, num_partitions=5)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = store.executionsList()
    plans = [
        execs.apply(i).physicalPlanDescription()
        for i in range(seen, execs.size())
        if (execs.apply(i).description() or "").endswith(": write")
    ]
    assert len(plans) == 1
    plan = plans[0]
    tree = plan[plan.index("== Final Plan ==") : plan.index("== Initial Plan ==")]
    tree = tree.splitlines()
    python = [i for i, line in enumerate(tree) if "MapInArrow" in line]
    exchange = [i for i, line in enumerate(tree) if "Exchange" in line]
    assert len(python) == 1 and len(exchange) == 1, plan
    assert exchange[0] < python[0], plan  # the tree prints parents first
    for g in (0, 1):
        files = glob.glob(os.path.join(out, f"group={g}", "*.parquet"))
        assert len(files) == 2, files
