"""Self-tests of the benchmark at a tiny size.

    python3 -m pytest perfbench/test_perfbench.py -q

The slow test (a delay injected around one layer) runs five tiny runs,
about six minutes on four cores.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs, run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_metric_names_and_units():
    """BENCHMARK.json is the one list of metrics; run.py reads it."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = []
    for kind in ("end_to_end", "per_layer"):
        for m in spec[kind]:
            assert NAME.match(m["name"]), m
            assert UNIT.match(m["unit"]), m
            names.append(m["name"])
    assert len(names) == len(set(names))
    assert list(run.END_TO_END) + list(run.PER_LAYER) == names
    assert [w["name"] for w in spec["workloads"]] == ["extract_cold", "tick_maintain"]


def test_seed_changes_inputs_not_planted_counts(tmp_path):
    root = str(tmp_path)
    a, b = inputs.transcripts(root, 1, 600), inputs.transcripts(root, 2, 600)
    ta, tb = (pq.read_table(x["transcripts"]).column("text").to_pylist() for x in (a, b))
    assert ta != tb
    for k in ("n_turns", "boilerplate_turns", "megaconv_turns"):
        assert a[k] == b[k], k
    assert sum(t in inputs.BOILERPLATE for t in ta) >= a["boilerplate_turns"]
    mega = pq.read_table(a["transcripts"]).column("conv_id").to_pylist().count("megaconv-0")
    assert mega == a["megaconv_turns"]

    da, db = inputs.curate_docs(root, 1, 300), inputs.curate_docs(root, 2, 300)
    assert pq.read_table(da["docs"]).column("text").to_pylist() != pq.read_table(db["docs"]).column("text").to_pylist()
    for k in ("exact_pairs", "near_pairs", "hot_docs"):
        assert len(da[k]) == len(db[k]) > 0, k
    texts = dict(zip(*(pq.read_table(da["docs"]).column(c).to_pylist() for c in ("doc_id", "text"))))
    assert all(texts[x] == texts[y] for x, y in da["exact_pairs"])
    assert sum(inputs.HOT_GRAM in t for t in texts.values()) == len(da["hot_docs"])


# large against the few CPU-seconds of JIT work that vary between tiny runs
DELAY_S = 12.0
TINY = """
import json, sys, time
sys.path.insert(0, {root!r})
from perfbench import run, workloads
workloads.ExtractCold.n_turns = 2_000
workloads.ExtractCold.sample_rows = 50
workloads.TickMaintain.n_turns = 2_000
workloads.TickMaintain.n_files = 4
for w in (workloads.ExtractCold, workloads.TickMaintain):
    w.warmup_cycles = w.min_cycles = 1
workloads.Curation.n_docs = 300
calls = []
if {slow}:
    import fscrawler_spark.plans.derived as derived
    real = derived.sync_derived_table

    def slow_sync(*a, **k):
        calls.append(1)
        end = time.perf_counter() + {delay}
        while time.perf_counter() < end:  # spin: cycle_cpu_s counts CPU, not sleep
            pass
        return real(*a, **k)

    derived.sync_derived_table = slow_sync
out = run.run({workload!r}, seed=3, seconds=0.1, trace={trace})
out["calls"] = len(calls)
print(json.dumps(out))
"""


def _run(workload: str, trace: bool, slow: bool) -> tuple[dict, int]:
    """One tiny run in its own process, as the benchmark is always run;
    ``slow`` wraps plans.derived.sync_derived_table in a busy delay."""
    code = TINY.format(root=ROOT, slow=slow, delay=DELAY_S, workload=workload, trace=trace)
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"], out
    return {k: v["value"] for k, v in out["metrics"].items()}, out["calls"]


def test_delay_in_one_layer_moves_its_metrics_only():
    """A delay around the derived-view sync (plans.derived) must move
    plans.derived_sync_s and tick_maintain's cycle_cpu_s, leave the tick's
    other layers alone, and never run in extract_cold. The delay spins
    rather than sleeps, because the end-to-end cycle metric counts CPU."""
    base_e2e, _ = _run("tick_maintain", trace=False, slow=False)
    slow_e2e, calls = _run("tick_maintain", trace=False, slow=True)
    assert calls > 0
    # cycle_cpu_s is CPU seconds at the host's idle speed, so on a busy
    # host the delay's share of it shrinks by the host's speed (0.5-1)
    assert slow_e2e["cycle_cpu_s"] - base_e2e["cycle_cpu_s"] > 0.3 * DELAY_S

    base, _ = _run("tick_maintain", trace=True, slow=False)
    slow, _ = _run("tick_maintain", trace=True, slow=True)
    assert slow["plans.derived_sync_s"] - base["plans.derived_sync_s"] > 0.5 * DELAY_S
    assert abs(slow["plans.incremental_update_s"] - base["plans.incremental_update_s"]) < 0.5 * DELAY_S

    other, calls = _run("extract_cold", trace=True, slow=True)
    assert calls == 0
    assert other["plans.derived_sync_s"] == 0
