"""Each output check passes on the program's real output and fails on
a doctored copy of it.

    python3 -m pytest perfbench/test_checks.py -q

One Spark session runs each workload's entry point once (about two
minutes on 4 cores); every test then doctors a copy of that output.
"""

from __future__ import annotations

import glob
import shutil
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


@pytest.fixture(scope="module")
def outputs(tmp_path_factory):
    run._env()
    from teleharvest_spark.session import get_spark

    base = tmp_path_factory.mktemp("perfbench")
    spark = get_spark(
        app_name="perfbench-tests",
        extra_conf={
            "spark.local.dir": str(base / "local"),
            "spark.sql.warehouse.dir": str(base / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    made = {}
    try:
        for name, cls in run.WORKLOADS.items():
            work = base / name
            work.mkdir()
            wl = cls(spark, work, 11, None)
            wl.prepare()
            wl.before(0)
            report = wl.call(0)
            assert wl.check(0, report) == [], name
            made[name] = (wl, report)
        yield made
    finally:
        spark.stop()


def _copy(wl, tmp_path) -> str:
    dst = str(tmp_path / "out")
    shutil.copytree(wl.out(0), dst)
    return dst


def _rewrite(path: str, fn) -> None:
    """Replace the data file ``path`` by ``fn(table)``."""
    pq.write_table(fn(pq.read_table(path)), path)


def _files(root: str, sub: str = "") -> list[str]:
    return sorted(glob.glob(f"{root}/{sub}/**/*.parquet", recursive=True))


def _nonempty(root: str, sub: str) -> str:
    """The first data file below ``root/sub`` that holds rows (Spark
    also writes empty part files)."""
    return next(p for p in _files(root, sub) if pq.read_metadata(p).num_rows > 0)


def _drop_first(t: pa.Table) -> pa.Table:
    return t.slice(1)


def _check_full(wl, out):
    return checks.validate_full(wl.con, run._files_literal(Path(wl.inp).glob("*.parquet")), out, "c0")


def _has(fails: list[str], text: str) -> bool:
    return any(text in f for f in fails)


# ------------------------------------------------------------ validate_full


def test_full_verdict_counts(outputs, tmp_path):
    wl, _ = outputs["validate_full"]
    out = _copy(wl, tmp_path)

    def bump(t):
        rows = t.to_pylist()
        rows[0]["viol_by_check"] = [("too_short", 1)] + list(rows[0]["viol_by_check"] or [])
        return pa.Table.from_pylist(rows, schema=t.schema)

    _rewrite(_nonempty(out, "verdicts/c0"), bump)
    assert _has(_check_full(wl, out), "verdict per-check counts")


def test_full_written_violations(outputs, tmp_path):
    wl, _ = outputs["validate_full"]
    out = _copy(wl, tmp_path)
    f = _nonempty(out, "violations")
    _rewrite(f, _drop_first)
    assert _has(_check_full(wl, out), "written violations per-check counts")


def test_full_certified_missing_row(outputs, tmp_path):
    wl, _ = outputs["validate_full"]
    out = _copy(wl, tmp_path)
    f = _nonempty(out, "certified")
    _rewrite(f, _drop_first)
    assert _has(_check_full(wl, out), "certified vs clean input rows")


def test_full_certified_and_violating(outputs, tmp_path):
    wl, _ = outputs["validate_full"]
    out = _copy(wl, tmp_path)
    viol = pq.read_table(_nonempty(out, "violations"))
    f = _nonempty(out, "certified")
    bad = viol.slice(0, 1).column("doc_id")[0].as_py()

    def add(t):
        row = t.slice(0, 1).to_pylist()[0]
        row["doc_id"] = bad
        return pa.concat_tables([t, pa.Table.from_pylist([row], schema=t.schema)])

    _rewrite(f, add)
    assert _has(_check_full(wl, out), "certified rows have a violation")


def test_full_row_count(outputs, tmp_path):
    wl, _ = outputs["validate_full"]
    out = _copy(wl, tmp_path)

    def bump(t):
        i = t.schema.get_field_index("row_count")
        col = pc.add(t.column(i), pa.scalar(1, t.schema.field(i).type))
        return t.set_column(i, t.schema.field(i), col)

    _rewrite(_nonempty(out, "verdicts/c0"), bump)
    assert _has(_check_full(wl, out), "verdict row_count sums")


def test_full_drift(outputs, tmp_path):
    wl, _ = outputs["validate_full"]
    out = _copy(wl, tmp_path)

    def flip(t):
        i = t.schema.get_field_index("drift_verdict")
        col = pa.array(["fail"] * t.num_rows, t.schema.field(i).type)
        return t.set_column(i, t.schema.field(i), col)

    _rewrite(_nonempty(out, "verdicts/c0"), flip)
    assert _has(_check_full(wl, out), "drift fails")


# ---------------------------------------------------------- validate_resume


def _check_resume(wl, out, report):
    return checks.validate_resume(
        wl.con, wl.seed_files, wl.final_files, out, report, wl.plan, wl.seed_certified
    )


def test_resume_validated_rows(outputs, tmp_path):
    wl, report = outputs["validate_resume"]
    out = _copy(wl, tmp_path)
    fails = _check_resume(wl, out, {**report, "validated_rows": report["validated_rows"] + 1})
    assert _has(fails, "validated_rows")


def test_resume_cross_duplicate(outputs, tmp_path):
    wl, report = outputs["validate_resume"]
    out = _copy(wl, tmp_path)
    cross = wl.plan.planted["dup_cross"][0]
    for f in _files(out, f"violations/source_dir={gen.CHANGED}"):
        _rewrite(f, lambda t: t.filter(pc.not_equal(t.column("doc_id"), cross)))
    assert _has(_check_resume(wl, out, report), "cross-source duplicate")


def test_resume_certified_rows(outputs, tmp_path):
    wl, report = outputs["validate_resume"]
    out = _copy(wl, tmp_path)
    f = _nonempty(out, f"certified/source_dir={gen.CHANGED}")
    _rewrite(f, _drop_first)
    assert _has(_check_resume(wl, out, report), "certified vs passing rows")


def test_resume_untouched_bytes(outputs, tmp_path):
    wl, report = outputs["validate_resume"]
    out = _copy(wl, tmp_path)
    f = next(
        p for p in _files(out, "certified")
        if f"source_dir={gen.CHANGED}" not in p and pq.read_metadata(p).num_rows > 0
    )
    pq.write_table(pq.read_table(f), f, compression="gzip")  # same rows, new bytes
    fails = _check_resume(wl, out, report)
    assert fails == ["certified files of untouched sources changed"]


# -------------------------------------------------------------- prep_corpus


def _check_prep(wl, out):
    return checks.prep_corpus(wl.con, wl.docs, out, wl.plan, run.PACK_CAPACITY)


def test_prep_quality_balance(outputs, tmp_path):
    wl, _ = outputs["prep_corpus"]
    out = _copy(wl, tmp_path)
    _rewrite(_nonempty(out, "clean_docs"), _drop_first)
    assert _has(_check_prep(wl, out), "quality passed")


def test_prep_exact_group(outputs, tmp_path):
    wl, _ = outputs["prep_corpus"]
    out = _copy(wl, tmp_path)
    group = wl.plan.planted["exact_groups"][0]
    f = _nonempty(out, "dedup_docs")

    def add(t):
        row = t.slice(0, 1).to_pylist()[0]
        extra = []
        for d in group:
            extra.append({**row, "doc_id": d})
        return pa.concat_tables([t, pa.Table.from_pylist(extra, schema=t.schema)])

    _rewrite(f, add)
    assert _has(_check_prep(wl, out), "exact-duplicate groups")


def test_prep_junk(outputs, tmp_path):
    wl, _ = outputs["prep_corpus"]
    out = _copy(wl, tmp_path)
    junk = wl.plan.planted["junk"][0]
    for f in _files(out, "quality_violations"):
        _rewrite(f, lambda t: t.filter(pc.not_equal(t.column("doc_id"), junk)))
    assert _has(_check_prep(wl, out), "junk documents passed quality")


def test_prep_split_counts(outputs, tmp_path):
    wl, _ = outputs["prep_corpus"]
    out = _copy(wl, tmp_path)
    f = _nonempty(out, "corpus")
    _rewrite(f, _drop_first)
    assert _has(_check_prep(wl, out), "split counts")


def test_prep_one_pack_each(outputs, tmp_path):
    wl, _ = outputs["prep_corpus"]
    out = _copy(wl, tmp_path)
    f = _nonempty(out, "packs")
    _rewrite(f, lambda t: pa.concat_tables([t, t.slice(0, 1)]))
    assert _has(_check_prep(wl, out), "packed vs tokenized documents")


def test_prep_capacity(outputs, tmp_path):
    wl, _ = outputs["prep_corpus"]
    out = _copy(wl, tmp_path)
    for f in _files(out, "packs"):

        def merge(t):
            i = t.schema.get_field_index("pack_id")
            col = pa.array([0] * t.num_rows, t.schema.field(i).type)
            return t.set_column(i, t.schema.field(i), col)

        _rewrite(f, merge)
    assert _has(_check_prep(wl, out), "exceed capacity")

