"""Self-test of the benchmark's output checks: a correct committed output
passes, and one deliberately corrupted row makes the run count as failed.

    python -m pytest perfbench/ -q      (starts a JVM; about a minute)
"""

from __future__ import annotations

import glob
import os
import shutil

import pytest

import run as R


@pytest.fixture(scope="module")
def spark():
    R.configure_env()
    from docling_gfcr_spark.session import get_spark

    s = get_spark(app_name="perfbench-test", cores=2, extra_conf=R.spark_conf(False))
    yield s
    R.stop_spark(s)


def _prepare(workload: str):
    import workloads

    return workloads.prepare(
        workload, 7, R.SMOKE_N_TURNS[workload], os.path.join(R.WORK, "cache"), n_files=2)


def _rewrite_first_row(pattern: str, column: str, value) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = sorted(glob.glob(pattern))[0]
    t = pq.read_table(path)
    vals = t.column(column).to_pylist()
    vals[0] = value(vals[0])
    t = t.set_column(t.schema.get_field_index(column), column,
                     pa.array(vals, type=t.schema.field(column).type))
    pq.write_table(t, path)
    # the local filesystem's checksum sidecar would reject the new bytes
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def test_extract_checks_catch_one_changed_row(spark):
    from checks import check_extract, oracle_digests

    inp, meta = _prepare("extract_mixed")
    out = os.path.join(R.WORK, "out", "selftest_extract")
    shutil.rmtree(out, ignore_errors=True)
    expected = oracle_digests(f"{inp}/input", R.job_mode("extract_mixed"))
    report = R.run_job(spark, "extract_mixed", inp, out)
    problems, facts = check_extract(spark, report, out, meta["n_turns"], expected)
    assert problems == []
    assert facts["error_turns"] > 0  # the generator plants unsupported kinds

    _rewrite_first_row(f"{out}/data/part_id=*/*.parquet", "extracted_text",
                       lambda v: (v or "") + " corrupted")
    problems, _ = check_extract(spark, report, out, meta["n_turns"], expected)
    assert any("differ from the local oracle" in p for p in problems)

    # a resumed job (reused output dir) skips every part and must fail too
    resumed = R.run_job(spark, "extract_mixed", inp, out)
    problems, _ = check_extract(spark, resumed, out, meta["n_turns"], expected)
    assert any("job resumed" in p for p in problems)
    shutil.rmtree(out, ignore_errors=True)


def test_corpus_checks_catch_a_surviving_duplicate(spark):
    from checks import check_corpus

    inp, meta = _prepare("corpus_build")
    assert meta["exact_dups"] and meta["near_dups"] and meta["contaminated"]
    out = os.path.join(R.WORK, "out", "selftest_corpus")
    shutil.rmtree(out, ignore_errors=True)
    report = R.run_job(spark, "corpus_build", inp, out)
    problems, facts = check_corpus(spark, report, out, meta)
    assert problems == []
    rows = facts["stage_rows"]
    planted = len(meta["exact_dups"]) + len(meta["near_dups"])
    assert rows["assemble"] - rows["dedup_near"] == planted

    # turn one kept conversation into the planted duplicate of another: the
    # row count is unchanged, but that duplicate pair now survives as two
    import pyarrow.parquet as pq

    first_file = sorted(glob.glob(f"{out}/dedup_exact/*.parquet"))[0]
    first = pq.read_table(first_file, columns=["conv_id"]).column(0)[0].as_py()
    victim = next(c for c in meta["exact_dups"] if c != first)
    _rewrite_first_row(first_file, "conv_id", lambda v: victim.replace("conv-", "dup-"))
    problems, _ = check_corpus(spark, report, out, meta)
    assert problems
    shutil.rmtree(out, ignore_errors=True)
