"""Summary of the runs stored under perfbench/.results.

Per workload: the median of each metric over untraced and traced runs,
the tracing overhead (traced vs untraced median wave time), and -- once
both crawl workloads have untraced runs -- the two-point fit of the wave
time into a fixed floor plus a per-URL cost, with each workload's floor
share of its wave wall time.
"""

from __future__ import annotations

import json
import statistics
from pathlib import Path


def _median_metrics(runs: list[dict]) -> dict:
    keys = sorted({k for r in runs for k in r["metrics"]})
    return {
        k: statistics.median(r["metrics"][k] for r in runs if k in r["metrics"])
        for k in keys
    }


def report(results: Path, workloads: dict) -> dict:
    runs: dict[tuple[str, int], list[dict]] = {}
    for p in sorted(results.glob("*-trace[01]-*.json")):
        if p.name.endswith("-spans.json"):
            continue
        r = json.loads(p.read_text())
        if r["errors"] or r.get("config") != workloads.get(r["workload"]):
            continue  # failed, or measured with another workload definition
        runs.setdefault((r["workload"], r["trace"]), []).append(r)
    out: dict = {"workloads": {}}
    for name in workloads:
        plain = runs.get((name, 0), [])
        traced = runs.get((name, 1), [])
        entry: dict = {"runs": len(plain), "traced_runs": len(traced)}
        if plain:
            entry["e2e_median"] = _median_metrics(plain)
            entry["loadavg_1m"] = [r["host_before"]["loadavg"][0] for r in plain]
        if traced:
            entry["layer_median"] = _median_metrics(traced)
        if plain and traced:
            entry["trace_overhead"] = (
                entry["layer_median"]["trace.wave_s_p50"] / entry["e2e_median"]["wave_s_p50"] - 1
            )
        out["workloads"][name] = entry
    points = [
        (workloads[n]["wave_urls"], e["e2e_median"]["wave_s_p50"])
        for n, e in out["workloads"].items()
        if "e2e_median" in e
    ]
    if len(points) == 2 and points[0][0] != points[1][0]:
        (n1, t1), (n2, t2) = sorted(points)
        per_url = (t2 - t1) / (n2 - n1)
        floor = t1 - n1 * per_url
        out["fit"] = {
            "floor_s": floor,
            "ms_per_url": per_url * 1e3,
            "floor_share": {
                n: floor / e["e2e_median"]["wave_s_p50"]
                for n, e in out["workloads"].items()
                if "e2e_median" in e
            },
        }
    return out
