"""The benchmark's own tests, on tiny inputs.

    python3 -m pytest perfbench/test_perfbench.py -q

The schema tests start Spark (one run per workload and trace mode), so the
whole file takes a few minutes; the input and oracle tests take seconds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import inputs, oracles, run  # noqa: E402

BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")
WORKLOADS = ["pit_features", "corpus_curation"]


def _bench() -> dict:
    with open(BENCHMARK) as f:
        return json.load(f)


def test_benchmark_json_names_match_the_runner():
    b = _bench()
    assert [w["name"] for w in b["workloads"]] == WORKLOADS
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.PER_LAYER
    assert len(b["per_layer"]) <= 128
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_inputs_are_seeded_and_pinned(workload, tmp_path):
    gen = inputs.GENERATORS[workload]
    a, b = gen(1, "tiny"), gen(1, "tiny")
    assert inputs.content_hash(a) == inputs.content_hash(b)
    assert inputs.content_hash(gen(2, "tiny")) != inputs.content_hash(a)
    with open(inputs.PINS_PATH) as f:
        assert json.load(f)[f"{workload}/tiny/1"] == inputs.content_hash(a)


def test_changed_input_fails_loudly(tmp_path, monkeypatch):
    paths, _, digest = inputs.materialize("pit_features", 1, "tiny", str(tmp_path))
    assert os.path.basename(os.path.dirname(paths["images"])) == f"1-{digest[:16]}"
    monkeypatch.setattr(inputs, "_load_pins", lambda: {"pit_features/tiny/1": "0" * 64})
    with pytest.raises(inputs.InputMismatch):
        inputs.materialize("pit_features", 1, "tiny", str(tmp_path))


def test_components_rounds_on_planted_chains():
    """Pointer doubling settles a 3-chain in one round and a 5-chain in
    two; each run ends with one round that changes nothing."""
    from modlyn_spark.session import get_spark
    from perfbench.workloads import components_with_rounds

    spark = get_spark("perfbench-test")
    for n, want in [(3, 2), (5, 3)]:
        chain = spark.createDataFrame([(i, i + 1) for i in range(1, n)], "id1 long, id2 long")
        comp, rounds = components_with_rounds(chain)
        assert rounds == want
        assert sorted(tuple(r) for r in comp.collect()) == [(i, 1) for i in range(1, n + 1)]


def test_pit_inputs_have_hot_keys_and_two_requests_per_state():
    t = inputs.pit_tables(3, "tiny")
    versions = t["images"].groupby("image_id").size()
    assert versions.max() >= inputs.HOT_FACTOR
    assert len(t["requests"]) == 2 * len(t["images"])
    assert not t["requests"].duplicated(["image_id", "feature_ts"]).any()


def test_curation_oracle_sees_planted_structure():
    t = inputs.curation_tables(3, "tiny")
    o = oracles.curation_oracle(t, 3)
    assert o["pairs"] > 0
    assert 0 < o["curated_rows"] < len(t["documents"])


def test_missing_package_exits_nonzero_without_result(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(BENCHMARK, tmp_path / "BENCHMARK.json")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pit_features", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_schema_and_oracle_checks(workload, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 2
    names = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == names
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)) and not isinstance(v["value"], bool), k
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    assert "error_rate = 0.0000" in p.stdout
