"""The benchmark's own tests.

The fast tests cover the oracles, the seeded inputs and the metric
lists. The end-to-end tests start ``perfbench/run.py`` in a subprocess,
exactly as the benchmark is run: one fresh Spark process per run, about
half a minute to a minute each.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
from datetime import datetime

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import inputs  # noqa: E402
import oracles  # noqa: E402

# the workloads BENCHMARK.json lists, and the layers a traced run of
# each measures; llm_corpus is measured inside traced cooling runs
WORKLOADS = ("cooling", "cdc_stream")
MEASURES = {"cooling": ("cooling", "llm_corpus", "all"), "cdc_stream": ("cdc_stream", "all")}


def spec() -> dict:
    with open(os.path.join(BENCH, "metrics.json")) as f:
        return json.load(f)


def run_bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )


def result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


# -- fast ------------------------------------------------------------------


def test_benchmark_json_matches_the_metric_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    s = spec()
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert bench["end_to_end"] == [
        {k: m[k] for k in ("name", "unit", "better", "bound")} for m in s["end_to_end"]
    ]
    assert bench["per_layer"] == [
        {k: m[k] for k in ("name", "unit", "better")} for m in s["per_layer"]
    ]
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
    e2e = {m["name"] for m in s["end_to_end"]}
    for m in s["per_layer"]:
        assert set(m["moves"]) <= e2e, m
        assert any(m["workload"] in v for v in MEASURES.values()), m


def test_inputs_depend_only_on_the_seed():
    d1, p1 = inputs.documents(5)
    d2, p2 = inputs.documents(5)
    d3, p3 = inputs.documents(6)
    pd.testing.assert_frame_equal(d1, d2)
    assert p1 == p2 and p1 != p3
    assert not d1["text"].equals(d3["text"])
    e1, e2 = inputs.embeddings(5), inputs.embeddings(5)
    assert all(np.array_equal(a, b) for a, b in zip(e1["embedding"], e2["embedding"]))
    c1, c2 = inputs.changelog(5, 100), inputs.changelog(5, 100)
    for _ in range(3):
        pd.testing.assert_frame_equal(next(c1), next(c2))
    pd.testing.assert_frame_equal(inputs.orders(5), inputs.orders(5))


def test_near_duplicate_pairs_are_one_word_edits():
    docs, pairs = inputs.documents(3)
    texts = docs["text"].tolist()
    for a, b in pairs[:200]:
        wa, wb = texts[a].split(), texts[b].split()
        assert a < b and len(wa) == len(wb)
        assert sum(x != y for x, y in zip(wa, wb)) <= 1


def test_union_find_clusters_keeper_is_the_component_minimum():
    got = oracles.union_find_clusters([(5, 9), (9, 2), (7, 8)])
    assert got == {(5, 2, 3), (9, 2, 3), (2, 2, 3), (7, 7, 2), (8, 7, 2)}


def test_topk_oracle_accepts_the_exact_answer_and_rejects_perturbed_ones():
    emb = inputs.embeddings(4)
    vecs = np.vstack(emb["embedding"].to_numpy()).astype(np.float64)
    centroids = np.floor(vecs[:8] * 1e6 + 0.5).astype(np.int64).tolist()
    topk = oracles.TopK(emb, centroids)
    q = inputs.queries(4, emb, 1)[0]
    for nprobe in (None, 3):
        mask = np.ones(len(vecs), bool) if nprobe is None else np.isin(
            topk.assign,
            sorted(range(8), key=lambda c: (
                int(((np.floor(q * 1e6 + 0.5).astype(np.int64) - topk.C[c]) ** 2).sum()), c
            ))[:nprobe])
        s = topk.scores(q)
        best = sorted(((int(i), float(x)) for i, x in zip(topk.ids[mask], s[mask])),
                      key=lambda kv: (-kv[1], kv[0]))[:10]
        assert topk.check(q, best, 10, nprobe)[0]
        assert not topk.check(q, [(best[0][0], best[0][1] + 0.01)] + best[1:], 10, nprobe)[0]
        assert not topk.check(q, best[1:], 10, nprobe)[0]
        assert not topk.check(q, best[:9] + [best[0]], 10, nprobe)[0]


def test_cdc_replay_applies_last_change_and_catches_a_perturbed_table():
    orders = inputs.orders(2).head(5)
    replay = oracles.CdcReplay(orders)
    batch = pd.DataFrame({
        "o_orderkey": [1, 1, 2, 9, 9], "o_custkey": [7, 8, 0, 5, 6],
        "o_orderstatus": ["O"] * 5, "o_totalprice": [1.5, 2.5, 0.0, 3.0, 4.0],
        "o_orderpriority": ["1-URGENT"] * 5, "seq": [3, 4, 5, 1, 2],
        "op": ["U", "U", "D", "I", "D"],
    })
    replay.apply(batch)
    assert replay.lookup(1) == [(1, 8, "O", 2.5, "1-URGENT")]
    assert replay.lookup(2) == [] and replay.lookup(9) == []
    table = pd.DataFrame(list(replay.rows.values()), columns=list(replay.COLUMNS))
    assert replay.compare(table)[0]
    bad = table.copy()
    bad.loc[0, "o_totalprice"] += 1.0
    assert not replay.compare(bad)[0]
    assert not replay.compare(table.iloc[1:])[0]


def test_federation_closed_form_and_raw_bytes():
    start = datetime(2020, 1, 1)
    minutes = 527040 * 2 + 525600 * 3 + 44640
    want = oracles.federation_counts(start, minutes, 2020)
    assert want[(2020, "s3")][0] == 527040
    assert want[(2021, "pg")][0] == 525600 and want[(2025, "pg")][0] == 44640
    assert sum(n for n, _ in want.values()) == minutes
    assert sum(s for _, s in want.values()) == minutes * (minutes + 1) // 2
    assert oracles.payments_raw_bytes(1, 9) == 9 * 52 + 2 * 9
    assert oracles.payments_raw_bytes(9, 10) == 2 * 52 + 2 * (1 + 2)


def test_shingle_jaccard_rounds_like_the_engine():
    a = "a b c d e"
    assert oracles.shingle_jaccard(a, a) == 1.0
    assert oracles.shingle_jaccard(a, "a b c d x") == math.floor(2 / 4 * 1e6 + 0.5) / 1e6


def test_bare_checkout_exits_nonzero_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", ".traces", "__pycache__"))
    p = run_bench("--workload", "cooling", "--seed", "1", "--seconds", "1",
                  "--trace", "0", cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


# -- end to end ------------------------------------------------------------


@pytest.mark.parametrize("workload", WORKLOADS)
def test_clean_run_passes_every_check_and_prints_every_metric(workload):
    # seed 7 is not one the benchmark was tuned on
    r = result(run_bench("--workload", workload, "--seed", "7", "--seconds", "1",
                         "--trace", "0"))
    assert r["correct"] is True and r["failed"] == 0 and r["attempted"] > 0
    want = {m["name"]: m["unit"] for m in spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in r["metrics"].items()} == want
    assert all(v["value"] > 0 for v in r["metrics"].values()), r["metrics"]


@pytest.mark.parametrize(("workload", "fault"), [
    ("cooling", "lake_row"),
    ("cdc_stream", "answer"),
    ("llm_corpus", "answer"),
])
def test_injected_wrong_answer_is_reported_as_a_failure(workload, fault):
    r = result(run_bench("--workload", workload, "--seed", "2", "--seconds", "1",
                         "--trace", "0", "--inject", fault))
    assert r["correct"] is False and r["failed"] >= 1


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_records_a_span_for_every_listed_layer(workload):
    seed = 21
    r = result(run_bench("--workload", workload, "--seed", str(seed), "--seconds", "1",
                         "--trace", "1"))
    assert r["correct"] is True, r
    layers = spec()["per_layer"]
    assert {k: v["unit"] for k, v in r["metrics"].items()} == {
        m["name"]: m["unit"] for m in layers}
    with open(os.path.join(BENCH, ".traces", f"{workload}-seed{seed}.json")) as f:
        trace = json.load(f)
    names = {s["name"] for s in trace["spans"]}
    mine = [m for m in layers if m["workload"] in MEASURES[workload]]
    missing = [m["span"] for m in mine if m["span"] and m["span"] not in names]
    assert not missing
    for m in mine:
        if m["span"] and m["name"] == m["span"] + "_s":
            assert r["metrics"][m["name"]]["value"] > 0, m["name"]
    assert trace["self_s"] and r["metrics"]["trace.overhead_s"]["value"] > 0
