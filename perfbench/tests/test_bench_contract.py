"""The benchmark's declared metrics match what the command reports, and
its inputs depend only on the seed."""

import json
import os

import datagen
import run
from workloads import LAYER_METRICS, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_benchmark_json_lists_what_run_reports():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {k: v[0] for k, v in LAYER_METRICS.items()}
    assert {m["name"]: m["better"] for m in spec["per_layer"]} == {k: v[1] for k, v in LAYER_METRICS.items()}


def test_same_seed_same_tables():
    a, b, c = datagen.make_tables(5), datagen.make_tables(5), datagen.make_tables(6)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    docs = a["documents"].to_pydict()
    assert sum(t.endswith(" dup") for t in docs["text"]) == int(len(docs["text"]) * datagen.NEAR_DUP_FRAC)
    assert docs["n_chars"] == [len(t) for t in docs["text"]]
