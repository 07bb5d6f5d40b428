"""Event-log aggregation on a small recorded log (Spark 4.1, local[2]).

The log was trimmed to the fields the reader uses. It holds, in order:
two ungrouped set-up jobs (0, 1); job 2 in group "annotate", one
MapInPandas stage of two tasks; jobs 3 and 4 in group "agg", a two-stage
aggregation whose second job skips its map stage; and jobs 5 and 6,
submitted with no group from a side thread between WINDOW[0] and WINDOW[1].
"""

import os

import pytest

from perfbench import eventlog

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "small_eventlog.jsonl")
WINDOW = (1792216524.92, 1792216525.30)
MB = 2**20


def test_groups_without_windows():
    groups = eventlog.aggregate(eventlog.read_events(LOG))
    assert set(groups) == {"annotate", "agg"}

    an = groups["annotate"]
    assert (an.jobs, an.stages, an.tasks) == (1, 1, 2)
    assert an.exec_run_s == pytest.approx(3.661)
    assert an.exec_cpu_s == pytest.approx(0.357916512)
    assert an.py_run_s == pytest.approx(3.275)
    assert an.py_init_s == pytest.approx(0.960)
    assert an.py_start_s == pytest.approx(2.228)
    assert an.arrow_to_py_mb == pytest.approx((7144 + 5840) / MB)
    assert an.arrow_from_py_mb == pytest.approx((61416 + 81272) / MB)
    assert an.task_skew == pytest.approx(1838 / 1830.5)
    assert an.shuffle_write_mb == 0 and an.spill_mb == 0

    agg = groups["agg"]
    assert (agg.jobs, agg.stages, agg.tasks) == (2, 2, 3)
    assert agg.shuffle_write_mb == pytest.approx((215 + 214) / MB)
    assert agg.shuffle_read_mb == pytest.approx(429 / MB)
    assert agg.task_skew == pytest.approx(152 / 151)
    assert agg.py_run_s == 0


def test_ungrouped_jobs_go_to_their_window():
    groups = eventlog.aggregate(eventlog.read_events(LOG), windows=[("side", *WINDOW)])
    side = groups["side"]
    assert (side.jobs, side.stages, side.tasks) == (2, 2, 3)
    assert side.shuffle_write_mb == pytest.approx(118 / MB)
    # grouped jobs keep their group even inside a window
    wide = eventlog.aggregate(eventlog.read_events(LOG), windows=[("all", 0, 4e9)])
    assert wide["annotate"].jobs == 1 and wide["agg"].jobs == 2 and wide["all"].jobs == 4


def test_rolling_directory(tmp_path):
    with open(LOG) as f:
        lines = f.readlines()
    app = "local-123"
    d = tmp_path / f"eventlog_v2_{app}"
    d.mkdir()
    # numeric, not lexical, part order: events_10 follows events_2
    (d / f"events_2_{app}").write_text("".join(lines[:10]))
    (d / f"events_10_{app}").write_text("".join(lines[10:]))
    (d / f"appstatus_{app}").write_text("")
    assert eventlog.find_log(str(tmp_path), app) == str(d)
    want = eventlog.aggregate(eventlog.read_events(LOG))
    got = eventlog.aggregate(eventlog.read_events(str(d)))
    assert {k: vars(v) for k, v in got.items()} == {k: vars(v) for k, v in want.items()}
    with pytest.raises(FileNotFoundError):
        eventlog.find_log(str(tmp_path), "local-999")
