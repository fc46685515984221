#!/usr/bin/env python3
"""Benchmark self-test: a smoke run of every workload at sf0.001.

    python3 perfbench/selftest.py

Runs each workload once untraced and once traced, each run two passes
(two ``wc_chunks`` requests, two ``registry_mix`` passes), and asserts that every end-to-end and per-layer metric named in
BENCHMARK.json is printed with its unit, that no operation failed,
that the human-readable report names every ``<workload>/<metric>``,
and that the traced runs together emit parented spans for every
program layer. Exits non-zero on the first failed assertion.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LAYERS = (
    "session", "registry", "functions", "operators", "sources", "cachemgr",
    "streaming", "plans", "catalyst", "spark.job", "spark.stage",
)
REPORT_NAMES = {
    "wc_chunks": ("setup_s", "latency_p50_s", "throughput_mb_s"),
    "registry_mix": ("setup_s", "latency_p50_s", "throughput_qps"),
}


def smoke(workload: str, trace: int) -> tuple[list[str], dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=600, check=True,
    ).stdout.splitlines()
    return out[:-1], json.loads(out[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    layers_seen: set[str] = set()
    for w in spec["workloads"]:
        name = w["name"]
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            lines, res = smoke(name, trace)
            assert res["failed"] == 0 and res["correct"], (name, trace, lines)
            assert res["attempted"] >= 1, (name, trace)
            for m in spec[key]:
                got = res["metrics"].get(m["name"])
                assert got is not None, (name, trace, m["name"])
                assert got["unit"] == m["unit"], (name, m["name"], got)
            assert set(res["metrics"]) == {m["name"] for m in spec[key]}
            assert "ops.failed 0" in lines, (name, trace)
            assert any(ln.startswith("ops.attempted ") for ln in lines)
            if trace == 0:
                for metric in REPORT_NAMES[name]:
                    assert any(ln.startswith(f"{name}/{metric} ") for ln in lines), (
                        name, metric)
                continue
            with open(os.path.join(ROOT, ".perfbench_out",
                                   f"trace-{name}-1.json")) as f:
                spans = json.load(f)["spans"]
            ids = {s["id"] for s in spans}
            roots = [s for s in spans if s["parent"] is None]
            assert len(roots) == 1, roots
            for s in spans:
                assert s["parent"] is None or s["parent"] in ids, s
                assert s["end"] is not None and s["end"] >= s["start"], s
            layers_seen |= {s["layer"] for s in spans if s["parent"] is not None}
            print(f"ok {name} trace={trace}: {len(spans)} spans")
    missing = set(LAYERS) - layers_seen
    assert not missing, f"no parented spans for layers {sorted(missing)}"
    print("ok: all metrics printed, ops.failed == 0, spans for", sorted(LAYERS))
    return 0


if __name__ == "__main__":
    sys.exit(main())
