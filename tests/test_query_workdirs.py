"""Query work dirs: a query whose returned frame reads its work dir
lazily keeps the dir until process exit, then removes it — it neither
breaks the frame by deleting early nor leaves one dir behind per call."""

from __future__ import annotations

import atexit
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

from gcp_healthcare_data_pipeline_spark.queries import (
    lake_queries,
    streaming_queries,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the committed benchmark inputs: every table these queries read
SF_DIR = os.path.join(ROOT, "perfbench", "data", "sf0.01")


def test_exit_tempdir_is_removed_at_process_exit(tmp_path):
    code = (
        "import sys, tempfile; tempfile.tempdir = sys.argv[1]\n"
        "from gcp_healthcare_data_pipeline_spark.queries.registry import "
        "exit_tempdir\n"
        "d = exit_tempdir('q_probe_'); open(d + '/f', 'w').close()\n"
        "print(d)"
    )
    out = subprocess.run(
        [sys.executable, "-c", code, str(tmp_path)], cwd=ROOT,
        capture_output=True, text=True, check=True,
    )
    made = out.stdout.strip()
    assert made.startswith(str(tmp_path))
    assert not os.path.exists(made)


@pytest.mark.parametrize("query", [
    lake_queries.q_version_diff,
    lake_queries.q_compaction_roundtrip,
    streaming_queries.q_stream_upsert,
    streaming_queries.q_stream_backfill,
    streaming_queries.q_stream_scd2,
], ids=lambda q: q.__name__)
def test_query_work_dir_is_registered_for_exit_removal(
    spark, monkeypatch, query
):
    made: list[str] = []
    registered: list[tuple] = []
    mkdtemp = tempfile.mkdtemp

    def recording_mkdtemp(*args, **kwargs):
        made.append(mkdtemp(*args, **kwargs))
        return made[-1]

    monkeypatch.setattr(tempfile, "mkdtemp", recording_mkdtemp)
    monkeypatch.setattr(
        atexit, "register", lambda fn, *args: registered.append((fn, args))
    )
    df = query(spark, SF_DIR)
    try:
        work = [d for d in made if os.path.basename(d).startswith("q_")]
        assert work, "the query made no work dir"
        for d in work:
            assert (shutil.rmtree, (d, True)) in registered
        # the frame still reads its work dir after the call returns
        assert df.count() > 0
    finally:
        for d in made:
            shutil.rmtree(d, ignore_errors=True)
