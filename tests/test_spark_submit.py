"""The packaged multi-executor deployment path (BASELINE.json
north_rule: "run via spark-submit --py-files"): build the zip, submit
the replay job from OUTSIDE the repo so the engine can only come from
``--py-files``, and prove cross-process checkpoint resume (a second
submission applies zero batches)."""

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit")


def _submit(job, events, table, lineage):
    env = {
        **os.environ,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    out = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", os.path.join(REPO, "dist", "picsure_etl_spark.zip"),
            job,
            "--events", events,
            "--table", table,
            "--lsn-step", "1000",
            "--bucket-count", "4",
            "--lineage", lineage,
        ],
        env=env,
        capture_output=True,
        text=True,
        timeout=240,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    last = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(last)


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_pyfiles_replay_and_resume(spark, tmp_path):
    # fresh zip of the current source
    subprocess.run([sys.executable, os.path.join(REPO, "setup_pyfiles.py")], check=True)

    # stage a small WAL as parquet (what the job tails)
    from picsure_dictionary_etl_spark.cdc.generator import change_events

    events_path = str(tmp_path / "events")
    change_events(spark, 2000, n_convs=20, delete_ratio=0.1).write.parquet(events_path)

    # copy the job script OUT of the repo: its imports must resolve from
    # the shipped zip, not from a repo-relative sys.path
    job = str(tmp_path / "replay_job.py")
    shutil.copyfile(
        os.path.join(REPO, "picsure_dictionary_etl_spark", "jobs", "replay_job.py"), job
    )

    table = str(tmp_path / "table")
    lineage = str(tmp_path / "lineage.jsonl")
    r1 = _submit(job, events_path, table, lineage)
    assert r1["batches_applied"] == 2
    assert r1["watermark"] == 1999
    assert r1["rows_in"] > 0

    # per-commit lineage emitted by the packaged job too
    lines = [json.loads(l) for l in open(lineage)]
    assert len(lines) == 2 and all("per_bucket_rows" in l for l in lines)

    # cross-process resume: a second driver JVM sees the committed
    # watermark and applies nothing
    r2 = _submit(job, events_path, table, lineage)
    assert r2["batches_applied"] == 0
    assert r2["watermark"] == 1999


def test_session_driver_memory_fits_the_host(spark):
    """The default ``spark.driver.memory`` is derived from the host's
    physical memory (at most half of it, capped at 24g);
    ``SPARK_GRAFT_DRIVER_MEM`` still overrides it."""
    from picsure_dictionary_etl_spark.session import default_driver_memory

    phys_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    gib = int(default_driver_memory().rstrip("g"))
    assert 1 <= gib <= min(24, max(1, phys_gib / 2))
    want = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory()
    assert spark.conf.get("spark.driver.memory") == want
