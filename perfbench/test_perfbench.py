"""Tests of the benchmark itself: a wrong pinned digest must fail the run.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import copy
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import inputs, obs  # noqa: E402


def _corrupt(digest: str) -> str:
    return digest[:-1] + ("1" if digest.endswith("0") else "0")


def test_corrupted_probe_digest_raises():
    pins = inputs.load_pins()
    inputs.check_probes(pins)
    bad = copy.deepcopy(pins)
    bad["probes"]["pages"] = _corrupt(bad["probes"]["pages"])
    with pytest.raises(inputs.DigestMismatch):
        inputs.check_probes(bad)


def test_corrupted_input_digest_fails_the_run(monkeypatch, capsys):
    from perfbench import run

    pins = inputs.load_pins()
    bad = copy.deepcopy(pins)
    bad["inputs"]["pip_points:1"] = _corrupt(bad["inputs"]["pip_points:1"])
    monkeypatch.setattr(inputs, "load_pins", lambda: bad)
    env = dict(os.environ)
    try:
        rc = run.main(["--workload", "pip_points", "--seed", "1", "--seconds", "1"])
    finally:
        os.environ.clear()
        os.environ.update(env)
    out = capsys.readouterr()
    assert rc != 0
    assert "DigestMismatch" in out.err
    assert not any(line.startswith("{") for line in out.out.splitlines())


def test_large_seeds_keep_coordinate_ids_in_range():
    from giga_spatial_spark import synth

    largest = max(synth.LON_MULT, synth.LAT_MULT)
    for seed in (0, 23, 123_456_789, 2**63 - 1):
        last_id = inputs.id_offset(seed) + inputs.ID_STRIDE
        assert 0 <= inputs.id_offset(seed) and last_id * largest < 2**63
    assert inputs.id_offset(5) == 5 * inputs.ID_STRIDE


def test_status_store_values_parse():
    total = "total (min, med, max (stageId: taskId))\n3.1 MiB (398.4 KiB, 1 KiB, 2 KiB (stage 1.0: task 9))"
    assert obs._parse_metric(total, "size") == pytest.approx(3.1 * 1024**2)
    assert obs._parse_metric("1.2 s", "time") == pytest.approx(1200.0)
    assert obs._parse_metric("84 ms", "time") == pytest.approx(84.0)
    assert obs._parse_metric("1,234", "size") == 1234
    assert obs._parse_metric("70,595", "count") == 70595


def test_self_time_subtracts_children():
    tr = obs.Tracer("t", enabled=True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    st = tr.self_times()
    outer = tr.durations("outer")[0]
    assert st["outer"] == pytest.approx(outer - tr.durations("inner")[0])
    json.dumps(tr.spans)
