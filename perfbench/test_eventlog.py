"""Pins the event-log reader against a small checked-in event log.

Run from the repository root: ``python3 -m pytest perfbench/``.
The fixture is one traced pass of 10 s: seven tagged jobs across the
three operator layers and the final count, one untagged warm-pass job,
an AQE re-plan, and 100 ms that no span covers.
"""

import json
import os

import pytest

from eventlog import EventLog, pass_layers, union_ms

HERE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


@pytest.fixture(scope="module")
def layers():
    log = EventLog.read(os.path.join(HERE, "eventlog.jsonl"))
    with open(os.path.join(HERE, "spans.json")) as f:
        spans = json.load(f)
    return pass_layers(log, spans, 0, 10_000.0, cores=4)


def test_union_merges_overlaps_and_clips():
    assert union_ms([(0, 10), (5, 20), (30, 40)]) == 30
    assert union_ms([(0, 10), (5, 20)], lo=8, hi=12) == 4
    assert union_ms([(0, 10)], lo=20) == 0


def test_mention_detect(layers):
    assert layers["mention_detect.wall_s"] == pytest.approx(3.64)
    assert layers["mention_detect.jobs"] == 2
    # the scan stage is listed again by the second job: counted once
    assert layers["mention_detect.tasks"] == 4
    assert layers["mention_detect.score_tasks"] == 2
    assert layers["mention_detect.python_s"] == pytest.approx(0.8)
    assert layers["mention_detect.bytes_to_python"] == 2000
    assert layers["mention_detect.bytes_from_python"] == 3000
    assert layers["mention_detect.rows_out"] == 500
    assert layers["mention_detect.useful_ratio"] == pytest.approx(0.5)
    assert layers["mention_detect.task_skew"] == pytest.approx(1.5)
    assert layers["mention_detect.core_occupancy"] == pytest.approx(
        4490 / (3640 * 4))
    assert layers["corpus.scan_tasks"] == 2
    assert layers["corpus.rows"] == 5000


def test_canonicalize(layers):
    assert layers["canonicalize.wall_s"] == pytest.approx(3.7)
    assert layers["canonicalize.jobs"] == 3
    assert layers["canonicalize.stages"] == 3
    assert layers["canonicalize.tasks"] == 7
    assert layers["canonicalize.driver_gap_s"] == pytest.approx(1.0)
    assert layers["canonicalize.shuffle_bytes"] == 1000
    assert layers["canonicalize.python_s"] == pytest.approx(0.3)
    assert layers["canonicalize.core_occupancy"] == pytest.approx(
        6560 / (3700 * 4))


def test_triples_icetable_and_pipeline(layers):
    assert layers["canonical_triples.wall_s"] == pytest.approx(0.82)
    assert layers["canonical_triples.shuffle_bytes"] == 400
    assert layers["canonical_triples.rows_out"] == 1200
    assert layers["icetable.write_s"] == pytest.approx(0.9)
    assert layers["icetable.read_s"] == pytest.approx(0.83)
    assert layers["pipeline.unattributed_s"] == pytest.approx(0.1)
    assert layers["pipeline.unattributed_frac"] == pytest.approx(0.01)
    # the count job re-lists a triples stage it skipped: not counted
    # again; the untagged warm-pass job belongs to no pass
    assert layers["pipeline.jobs_total"] == 7


def test_layer_spans_cover_the_pass(layers):
    attributed = sum(layers[k] for k in (
        "mention_detect.wall_s", "canonicalize.wall_s",
        "canonical_triples.wall_s", "icetable.write_s", "icetable.read_s"))
    # + 10 ms of corpus() call time
    assert attributed + 0.01 + layers["pipeline.unattributed_s"] == \
        pytest.approx(10.0)
