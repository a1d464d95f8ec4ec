"""Tests of the benchmark itself: generators, reference model, helpers
and the contract between run.py and BENCHMARK.json.  No Spark session.

    python3 -m pytest cdcbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402
from model import Event, backlog_events, lww_state  # noqa: E402
from stats import halves_drift, layer_self_times, percentile, self_times, supported_tail  # noqa: E402

SMALL = gen.BacklogSpec(events_per_file=2_000)


def test_backlog_generator_is_deterministic():
    assert gen.backlog_file(5, 0, SMALL).text() == gen.backlog_file(5, 0, SMALL).text()
    assert gen.backlog_file(5, 0, SMALL).text() != gen.backlog_file(6, 0, SMALL).text()


def test_star_schema_is_byte_identical(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    gen.write_star_schema(9, str(a), sf=0.001)
    gen.write_star_schema(9, str(b), sf=0.001)
    for t in gen.STAR_TABLES:
        assert (a / f"{t}.parquet").read_bytes() == (b / f"{t}.parquet").read_bytes()


def test_seeds_change_values_not_sizes():
    f1, f2 = gen.backlog_file(1, 0, SMALL), gen.backlog_file(2, 0, SMALL)
    assert len(f1.lines) == len(f2.lines) == SMALL.events_per_file
    assert f1.key.max() < SMALL.n_keys and f2.key.max() < SMALL.n_keys
    d1, d2 = len(set(f1.key.tolist())), len(set(f2.key.tolist()))
    assert abs(d1 - d2) / d1 < 0.1  # Zipf draws: distinct-key counts agree closely
    s1, s2 = gen.star_schema(1, sf=0.001), gen.star_schema(2, sf=0.001)
    assert {t: s1[t].num_rows for t in s1} == {t: s2[t].num_rows for t in s2}


def test_truncated_envelopes_are_not_json():
    env = gen.users_envelope(7, 1, "Gold", gen.BASE_TS_US)
    json.loads(env)
    with pytest.raises(ValueError):
        json.loads(gen.truncate_envelope(env))
    line = json.loads(gen.backlog_file(3, 0, SMALL).lines[0])
    assert set(line) == {"_seq", "topic", "op", "value"}


def test_lww_model_hand_worked_case():
    events = [
        Event(1, "c", 1, 10, payload=("a",)),
        Event(2, "u", 1, 10, payload=("b",)),  # ties version 10: the later _seq wins
        Event(3, "u", 1, 5, payload=("old",)),  # older version arrives late: ignored
        Event(4, "d", 1, 20),  # delete: dropped in the default mode
        Event(5, "u", 2, 99, truncated=True, payload=("lost",)),  # corrupt: never applied
        Event(6, "c", 3, 1, payload=("c",)),
    ]
    state = lww_state(events)
    assert {k: e.payload for k, e in state.items()} == {1: ("b",), 3: ("c",)}
    assert state[1].seq == 2
    # with deletes applied the delete is key 1's winner, so the key goes
    assert set(lww_state(events, apply_deletes=True)) == {3}


def test_backlog_model_counts_only_clean_non_delete_events():
    f = gen.backlog_file(4, 0, SMALL)
    state = lww_state(backlog_events([f]))
    clean = (~f.truncated) & (f.op != "d")
    assert set(state) == set(f.key[clean].tolist())
    for key, e in state.items():
        assert e.payload[0] == f"user_{key}_{e.seq}"


def test_percentiles_and_supported_tail():
    assert percentile([5, 1, 3, 2, 4], 0.5) == 3
    assert percentile([1, 2], 0.5) == 1.5
    assert percentile(list(range(101)), 0.9) == 90
    assert supported_tail(19) is None
    assert supported_tail(20) == 0.5
    assert supported_tail(99) == 0.5
    assert supported_tail(100) == 0.9
    assert supported_tail(1000) == 0.99


def test_halves_drift():
    assert halves_drift([2.0, 2.0, 1.0, 1.0]) == -0.5
    assert halves_drift([1.0]) is None
    # per key: "a" slows by 10%, "b" is flat -> median of the two ratios
    keys = ["a", "b", "a", "b"]
    assert halves_drift([1.0, 2.0, 1.1, 2.0], keys) == pytest.approx(0.05)


def test_tracing_overhead_needs_a_matching_untraced_run(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "OUT_DIR", str(tmp_path))
    assert run.tracing_overhead("w-seed1-trace0", 15, "c", 90.0)[0] is None
    run._write_json(str(tmp_path / "w-seed1-trace0.json"),
                    {"seconds": 15, "code": "c", "end_to_end": {"throughput_per_s": 100.0}})
    assert run.tracing_overhead("w-seed1-trace0", 15, "c", 80.0)[0] == pytest.approx(0.25)
    assert run.tracing_overhead("w-seed1-trace0", 10, "c", 80.0)[0] is None
    assert run.tracing_overhead("w-seed1-trace0", 15, "other", 80.0)[0] is None


def test_spec_records_the_backlog_parameters():
    with open(os.path.join(BENCH, "SPEC.json")) as f:
        params = json.load(f)["backlog_parameters"]
    spec = gen.BacklogSpec()
    assert {k: v["value"] for k, v in params.items()} == {
        f: getattr(spec, f) for f in spec.__dataclass_fields__
    }
    assert all(("source" in v) != ("assumption" in v) for v in params.values())


def test_span_self_time():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0, "layer": "client"},
        {"id": 2, "parent": 1, "start": 1.0, "end": 3.0, "layer": "pipeline"},
        {"id": 3, "parent": 1, "start": 2.0, "end": 5.0, "layer": "pipeline"},
        {"id": 4, "parent": 1, "start": 8.0, "end": 12.0, "layer": "state"},  # clipped at 10
        {"id": 5, "parent": 3, "start": 2.5, "end": 3.5, "layer": "sources"},
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - 4 - 2)  # children cover [1,5] and [8,10]
    assert st[3] == pytest.approx(3 - 1)
    assert st[4] == pytest.approx(4)
    assert layer_self_times(spans) == pytest.approx(
        {"client": 4, "pipeline": 2 + 2, "state": 4, "sources": 1}
    )


def test_benchmark_json_matches_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert all(w["name"] in run.WORKLOAD_NAMES for w in spec["workloads"])
    assert spec["paths"] == ["cdcbench"]


def test_query_mix_keys_are_registered():
    from workloads import QUERY_MIX

    sys.path.insert(0, ROOT)
    from kafka_connect_postgres_to_clickhouse_spark.plans.registry import load_all_queries

    registry = load_all_queries()
    missing = [k for ks in QUERY_MIX.values() for k in ks if k not in registry]
    assert not missing
    assert all(registry[k].oracle for ks in QUERY_MIX.values() for k in ks)


def test_runner_refuses_a_tree_without_the_package(tmp_path):
    shutil.copytree(BENCH, tmp_path / "cdcbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = subprocess.run(
        [sys.executable, "cdcbench/run.py", "--workload", "backlog_catchup",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
