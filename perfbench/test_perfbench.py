"""Unit tests of the benchmark's own arithmetic and input pinning.

    python3 -m pytest perfbench -q

No Spark session is started; the event-log test reads a small canned log
(perfbench/testdata).
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import inputs as I  # noqa: E402
import reference as R  # noqa: E402
import spans as S  # noqa: E402
import workloads as W  # noqa: E402

LOG = os.path.join(HERE, "testdata", "eventlog_v2_local-1")


def _span(i, parent, start, end, name="x"):
    return S.Span(i, parent, name, start, end, "run")


def test_self_time_subtracts_children():
    spans = [_span(0, None, 0.0, 10.0, "pass"),
             _span(1, 0, 1.0, 4.0, "a"),
             _span(2, 0, 5.0, 9.0, "b"),
             _span(3, 2, 6.0, 7.0, "c")]
    selfs = S.self_times(spans)
    assert selfs == pytest.approx({0: 3.0, 1: 3.0, 2: 3.0, 3: 1.0})


def test_self_time_counts_overlapping_children_once():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 2.0, 6.0),
             _span(2, 0, 4.0, 8.0), _span(3, 0, 7.5, 12.0)]
    # children cover [2, 10] once the last one is clipped to its parent
    assert S.self_times(spans)[0] == pytest.approx(2.0)


def test_by_name_sums_repeated_layers():
    spans = [_span(0, None, 0.0, 10.0, "pass"),
             _span(1, 0, 0.0, 2.0, "io.snapshot_write"),
             _span(2, 0, 3.0, 6.0, "io.snapshot_write"),
             _span(3, 2, 3.0, 4.0, "spark.exec")]
    names = S.by_name(spans)
    assert names["io.snapshot_write"] == pytest.approx(
        {"count": 2, "total": 5.0, "self": 4.0})
    assert names["pass"]["self"] == pytest.approx(5.0)


def test_tracer_records_nesting_and_shared_run_id():
    clock = iter([0.0, 1.0, 2.0, 5.0]).__next__
    t = S.Tracer(enabled=True, run_id="r1", clock=clock)
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    assert (outer.start, outer.end, inner.start, inner.end) == (0.0, 5.0, 1.0, 2.0)
    assert inner.parent_id == outer.span_id and outer.parent_id is None
    assert {s.run_id for s in t.spans} == {"r1"}


def test_disabled_tracer_records_nothing():
    t = S.Tracer(enabled=False)
    with t.span("x"):
        pass
    assert t.spans == []


def test_eventlog_folds_pass_jobs():
    m = eventlog.summarize(LOG, lambda label: label.startswith("w:pass"))
    assert m["spark.jobs"] == 1 and m["spark.tasks"] == 5
    assert m["spark.shuffle_write_mb"] == pytest.approx(2.0)
    assert m["spark.shuffle_read_mb"] == pytest.approx(3.0)
    assert m["spark.spill_mb"] == pytest.approx(3.0)
    assert m["spark.run_s"] == pytest.approx(2.12)
    assert m["spark.cpu_s"] == pytest.approx(1.75)
    assert m["spark.gc_s"] == pytest.approx(0.02)
    assert m["spark.python_sent_mb"] == pytest.approx(4.0)
    assert m["spark.python_received_mb"] == pytest.approx(2.0)
    assert m["spark.python_boot_s"] == pytest.approx(3.0)
    assert m["spark.python_init_s"] == pytest.approx(0.5)
    assert m["spark.python_total_s"] == pytest.approx(8.0)
    # longest kept stage (1 s) has tasks of 1.0, 0.5 and 0.25 s
    assert m["spark.task_skew"] == pytest.approx(2.0)


def test_eventlog_divides_by_passes_and_skips_other_labels():
    m = eventlog.summarize(LOG, lambda label: label.startswith("w:probe"),
                           per=2.0)
    assert m["spark.jobs"] == pytest.approx(0.5)
    assert m["spark.tasks"] == pytest.approx(0.5)
    assert m["spark.run_s"] == pytest.approx(0.3)
    assert m["spark.python_sent_mb"] == 0.0
    assert m["spark.task_skew"] == pytest.approx(1.0)


def test_eventlog_reads_rolling_parts_in_order():
    files = eventlog.log_files(LOG)
    assert [os.path.basename(f) for f in files] == [
        "events_1_local-1", "events_2_local-1"]


def test_slippy_reference():
    x, y = R.slippy_xy(np.array([0.0]), np.array([0.0]), 1)
    assert (int(x[0]), int(y[0])) == (1, 1)


def test_encoder_probe_is_pinned():
    assert I.encoder_probe() == I.load_pins()["encoder_probe"]


@pytest.mark.parametrize("seed", sorted(I.load_pins()["seeds"], key=int))
def test_pinned_seeds_regenerate(seed):
    pins = I.load_pins()["seeds"][seed]
    nodes, edges = I.grid_network()
    trips = I.walk_trips(nodes, edges, W.MatchBroadcast.n_trips, int(seed))
    assert I.fingerprint([nodes, edges, trips]) == pins["match_broadcast"]
    images, _ = I.generate_images(W.GeoImages.n_images, int(seed))
    assert I.fingerprint([images]) == pins["geo_images"]


def test_changed_inputs_fail_loudly():
    pins = {"encoder_probe": I.encoder_probe(),
            "seeds": {"7": {"match_broadcast": "0" * 64}}}
    with pytest.raises(I.PinError):
        I.check_pins("match_broadcast", 7, "f" * 64, pins)
    I.check_pins("match_broadcast", 8, "f" * 64, pins)  # unpinned seed
    with pytest.raises(I.PinError):
        I.check_pins("geo_images", 8, "f" * 64,
                      {"encoder_probe": "0" * 64, "seeds": {}})
