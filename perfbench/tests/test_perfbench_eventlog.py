"""The event-log reader on a small recorded v2 log directory
(``eventlog_v2_<appId>/events_*``): two jobs of two stages each, the
first tagged with job group ``perfbench-op0``, the second untagged."""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from eventlog import log_files, read_counters  # noqa: E402

FIXTURES = os.path.join(HERE, "fixtures")


def test_finds_the_v2_directory_files():
    files = log_files(FIXTURES)
    assert [os.path.basename(f) for f in files] == ["events_1_local-1792207312154"]


def test_counters_grouped_by_job_group():
    counters = read_counters(FIXTURES)
    assert set(counters) == {"perfbench-op0", ""}
    op = counters["perfbench-op0"]
    assert (op["jobs"], op["stages"], op["stages_skipped"], op["tasks"]) == (1, 2, 0, 6)
    assert op["failed_tasks"] == 0 and op["spill_mb"] == 0
    assert op["shuffle_write_mb"] == op["shuffle_read_mb"] > 0
    assert op["executor_run_s"] > 0 and op["gc_s"] >= 0 and op["scheduler_delay_s"] >= 0
    assert (counters[""]["jobs"], counters[""]["tasks"]) == (1, 3)


def test_rolled_files_are_read_in_index_order(tmp_path):
    src = os.path.join(FIXTURES, "eventlog_v2_local-1792207312154")
    dst = tmp_path / "eventlog_v2_local-1"
    dst.mkdir()
    with open(os.path.join(src, "events_1_local-1792207312154")) as fh:
        lines = fh.readlines()
    half = len(lines) // 2
    # a lexical sort would put events_10 before events_2
    for idx, chunk in ((2, lines[:half]), (10, lines[half:])):
        (dst / f"events_{idx}_local-1").write_text("".join(chunk))
    assert [os.path.basename(f) for f in log_files(str(tmp_path))] == ["events_2_local-1", "events_10_local-1"]
    assert read_counters(str(tmp_path)) == read_counters(FIXTURES)
