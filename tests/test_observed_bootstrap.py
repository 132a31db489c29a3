"""Bootstrap and resume take the source's row count and partition set
from the passes they already run (an observation on the write, on the
dry run's ``noop`` sink and on the resume diff). Every path here must
return: ``Observation.get`` waits for a plan that never ran."""

from __future__ import annotations

import os
import shutil

import pytest

from hudi_utility_spark.engine import bootstrap
from hudi_utility_spark.io import read_source
from hudi_utility_spark.table import KeyedTable
from hudi_utility_spark.validate import BootstrapRequest, ValidationError
from hudi_utility_spark.write import full_bootstrap

PARTS = [None, "v0", "v1", "v2", "v3"]


def _source(spark, path, rows=400):
    """*rows* rows in one parquet file, partition column p over PARTS."""
    spark.range(rows).selectExpr(
        "id", "id AS ts", "CASE WHEN id % 5 = 0 THEN NULL ELSE concat('v', id % 5 - 1) END AS p"
    ).coalesce(1).write.parquet(path)
    return path


def _request(src, out, **kw):
    return BootstrapRequest(data_file_path=src, table_name="obs", record_key=["id"],
                            precombine="ts", output_path=out, partition_fields=["p"], **kw)


@pytest.fixture
def source(spark, tmp_path):
    return _source(spark, str(tmp_path / "src"))


@pytest.fixture
def empty_source(spark, tmp_path):
    return _source(spark, str(tmp_path / "empty"), rows=0)


def _files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


@pytest.mark.parametrize("dry_run", [False, True])
def test_empty_source_aborts_the_full_plan_before_writing(spark, tmp_path, empty_source, dry_run):
    out = str(tmp_path / "t")
    with pytest.raises(ValidationError, match="Input DataFrame is empty"):
        bootstrap(spark, _request(empty_source, out, dry_run=dry_run))
    assert not os.path.exists(out)


@pytest.mark.parametrize("dry_run", [False, True])
def test_empty_source_aborts_the_resume_plan_rewriting_nothing(
    spark, tmp_path, source, empty_source, dry_run
):
    out = str(tmp_path / "t")
    bootstrap(spark, _request(source, out))
    shutil.rmtree(os.path.join(out, "p=v1"))
    before = _files(out)
    with pytest.raises(ValidationError, match="Input DataFrame is empty"):
        bootstrap(spark, _request(empty_source, out, resume=True, dry_run=dry_run))
    assert _files(out) == before


def test_dry_run_writes_nothing_and_reports_what_it_would(spark, tmp_path, source):
    out = str(tmp_path / "t")
    res = bootstrap(spark, _request(source, out, dry_run=True))
    assert not os.path.exists(out)
    assert res["source_count"] == 400
    assert res["written_partitions"] == PARTS


def test_written_partitions_keep_null_first_and_regex_reports_the_matches(
    spark, tmp_path, source
):
    src = spark.read.parquet(source)
    t = KeyedTable(path=str(tmp_path / "t"), record_key=["id"], precombine="ts",
                   partition_fields=["p"])
    res = full_bootstrap(spark, src, t)
    assert (res["written_partitions"], res["source_count"]) == (PARTS, 400)
    res = full_bootstrap(spark, src, t, mode="REGEX", partition_regex="^v[12]$")
    assert (res["written_partitions"], res["source_count"]) == (["v1", "v2"], 160)
    assert sorted(d for d in os.listdir(t.path) if d.startswith("p=")) == ["p=v1", "p=v2"]


def test_bootstrap_and_resume_job_budgets(spark, tmp_path, source, count_jobs):
    """Each side of the source is read inside a pass the lifecycle runs
    anyway: the full plan keeps one emptiness probe before its static
    overwrite, and reconciliation counts only the destination. The
    source's schema is inferred once per file listing, so it is read
    once first: the budgets count the lifecycle's own jobs."""
    read_source(spark, source)
    out = str(tmp_path / "t")
    res, jobs = count_jobs(lambda: bootstrap(spark, _request(source, out)))
    assert res["record_counts"] == {"input": 400, "destination": 400}
    assert jobs <= 6, jobs
    shutil.rmtree(os.path.join(out, "p=v1"))
    res, jobs = count_jobs(lambda: bootstrap(spark, _request(source, out, resume=True)))
    assert res["repaired_partitions"] == ["v1"]
    assert res["record_counts"] == {"input": 400, "destination": 400}
    assert jobs <= 8, jobs
    res, jobs = count_jobs(lambda: bootstrap(spark, _request(source, out, resume=True)))
    assert res["noop"] and res["source_count"] == 400
    assert jobs <= 4, jobs
