#!/usr/bin/env python3
"""Crawl benchmark for rendler_spark.

    python3 perfbench/run.py --workload crawl_small_waves --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --report

Runs one workload as a closed loop from one driver process (one client,
``local[n]`` with n = min(4, nproc) - 1) against the program's default
settings, warm-up included.  The workload seed sets ``WebConfig.seed``.
Waves before ``first_timed`` ramp the frontier up and are not timed; the
timed waves are the same wave indices in every run, and each must fetch
the workload's saturated wave size, less at most ``SATURATION_SLACK``.
Outputs are checked after the timed region from the warehouse's parquet
footers and manifests.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1`` (see perfbench/README.md).
Run summaries, traced spans and crawl fingerprints are kept under
``perfbench/.results``; ``--report`` reads them and prints the wave
floor / per-URL fit and the tracing overhead.
"""

from __future__ import annotations

import time

T0 = time.monotonic()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
RESULTS = HERE / ".results"

#: every workload is a crawl of a synthetic web; ``wave_urls`` is the
#: saturated wave size (sum of per-host politeness budgets), reached by
#: wave ``first_timed`` on every seed; ``nominal_wave_s`` converts
#: --seconds into a fixed count of timed waves
WORKLOADS = {
    "crawl_small_waves": {
        "web": dict(n_hosts=64, pages_per_host=256, max_links=12, n_seeds=64, budget=8),
        "first_timed": 3,
        "wave_urls": 480,
        "nominal_wave_s": 5.0,
    },
    "crawl_large_waves": {
        "web": dict(n_hosts=256, pages_per_host=512, max_links=12, n_seeds=256, budget=24),
        "first_timed": 3,
        "wave_urls": 5760,
        "nominal_wave_s": 10.0,
    },
}

#: a timed wave may fetch this share fewer URLs than ``wave_urls``: on a
#: few seeds in a hundred one host's frontier is still a handful of URLs
#: short at ``first_timed`` (within 1.3% on small, 0.2% on large waves)
SATURATION_SLACK = 0.02

#: tables a wave writes (seen_compact only on compaction waves)
WAVE_TABLES = ("images", "fetch_log", "edges", "seen", "frontier")


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


T_PROC0 = T0 - process_age_s()


def host_probe() -> dict:
    """nproc, load average and the cumulative CPU tick counters (user,
    nice, system, idle, iowait, irq, softirq, steal) of /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return {"nproc": os.cpu_count(), "loadavg": list(os.getloadavg()), "cpu_ticks": ticks}


def steal_share(before: dict, after: dict) -> float:
    """Share of CPU time the hypervisor took from this host between probes."""
    d = [a - b for a, b in zip(after["cpu_ticks"], before["cpu_ticks"])]
    return d[7] / max(1, sum(d))


def isolate(work: Path) -> None:
    """Keep every file the run writes (JVM, Python workers, warm-up,
    warehouse) inside ``work`` and run the program with its defaults."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, str(ROOT))


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM (and with it the
    Python workers) to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=120)


# ------------------------------------------------------------ checks


def _rows(path: Path) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in path.rglob("*.parquet"))


def check_crawl(wh_root: Path, stats: list[dict], upto: int) -> tuple[list[tuple], dict]:
    """Check the warehouse after waves 0..upto-1.  Returns the errors as
    (wave or None, message) pairs, and the crawl's fingerprint."""
    import pyarrow.dataset as ds

    errors = []
    mdir = wh_root / "_manifests"
    total = 0
    for v in range(1, upto + 1):
        m = json.loads((mdir / f"v{v:06d}.json").read_text())
        s = stats[v - 1]
        w = v - 1
        if sum(m["partitions"].values()) != m["n_fetched"]:
            errors.append((w, "sum(partitions) != n_fetched"))
        total += m["n_fetched"]
        if m["n_total_fetched"] != total:
            errors.append((w, "n_total_fetched is not the running sum"))
        checks = {
            "images": (wh_root / "images" / f"wave={w}", s["n_fetched"]),
            "edges": (wh_root / "edges" / f"wave={w}", s["n_links"]),
            "seen": (wh_root / "seen" / f"wave={v}", s["n_new"]),
            "frontier": (wh_root / "frontier" / f"wave={v}", s["n_frontier_next"]),
        }
        for t, (path, want) in checks.items():
            got = _rows(path)
            if got != want:
                errors.append((w, f"{t} rows {got} != {want}"))
    urls = []
    for v in range(upto + 1):
        part = wh_root / "seen" / f"wave={v}"
        if any(part.rglob("*.parquet")):
            tbl = ds.dataset(str(part), format="parquet").to_table(columns=["url"])
            urls += tbl.column("url").to_pylist()
    if len(set(urls)) != len(urls):
        errors.append((None, "seen urls are not unique"))
    digest = hashlib.sha256("\n".join(sorted(urls)).encode()).hexdigest()
    fingerprint = {
        "waves": [
            [s["n_fetched"], s["n_links"], s["n_new"], s["n_frontier_next"]]
            for s in stats[:upto]
        ],
        "seen_sha256": digest,
    }
    return errors, fingerprint


def check_fingerprint(workload: str, seed: int, fp: dict) -> str | None:
    """The fingerprint of a (workload, seed, waves) must repeat exactly."""
    path = RESULTS / f"fingerprint-{workload}-seed{seed}-waves{len(fp['waves'])}.json"
    if path.exists():
        if json.loads(path.read_text()) != fp:
            return f"fingerprint differs from {path.name}"
        return None
    path.write_text(json.dumps(fp))
    return None


# ------------------------------------------------------------ run


def run_crawl(args, wl: dict, n_cores: int, work: Path, tracer) -> dict:
    from rendler_spark import session
    from rendler_spark.engine import CrawlEngine
    from rendler_spark.synthweb import WebConfig

    spark = session.get_spark(f"local[{n_cores}]", "perfbench", shuffle_partitions=n_cores)
    try:
        reader = None
        if tracer is not None:
            from spans import WaveReader

            reader = WaveReader(spark.sparkContext)
        cfg = WebConfig(**wl["web"], seed=args.seed)
        eng = CrawlEngine(spark, cfg, str(work / "warehouse"), n_partitions=n_cores)
        eng.init()
        first = wl["first_timed"]
        n_timed = max(1, round(args.seconds / wl["nominal_wave_s"]))
        stats, walls, profiles, errors = [], [], [], []
        t_first = timed_host = None
        for w in range(first + n_timed):
            if w == first:
                timed_host = host_probe()
                t_first = time.monotonic()
            a = time.monotonic()
            s = eng.run_wave(w)
            dt = time.monotonic() - a
            if s is None:
                errors.append((w, "frontier exhausted"))
                break
            stats.append(s)
            if w >= first:
                walls.append(dt)
            if reader is not None:
                jobs = reader.jobs_since_last()
                if w >= first:
                    profiles.append(wave_profile_of(tracer, w, jobs, n_cores))
        rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        timed_steal = steal_share(timed_host, host_probe()) if timed_host else None
        timed = stats[first:]
        counts = [s["n_fetched"] for s in timed]
        lo = int(wl["wave_urls"] * (1 - SATURATION_SLACK))
        if len(timed) != n_timed or not all(lo <= c <= wl["wave_urls"] for c in counts):
            errors.append((None, f"timed waves fetched {counts}, want {lo}..{wl['wave_urls']} each"))
        # ---- outside timing: output checks
        fp = None
        if stats:
            wave_errors, fp = check_crawl(Path(eng.wh.root), stats, len(stats))
            errors += wave_errors
            fp_error = check_fingerprint(args.workload, args.seed, fp)
            if fp_error:
                errors.append((None, fp_error))
        return {
            "t_first": t_first,
            "stats": stats,
            "timed": timed,
            "walls": walls,
            "rss_mb": rss_mb,
            "timed_steal_share": timed_steal,
            "profiles": profiles,
            "errors": errors,
            "fingerprint": fp,
            # one operation per wave run, plus one for the run-level checks
            "attempted": first + n_timed + 1,
            "failed": len({w for w, _ in errors if w is not None})
            + (1 if any(w is None for w, _ in errors) else 0),
        }
    finally:
        stop_spark(spark)


def wave_profile_of(tracer, w: int, jobs: list[dict], n_cores: int) -> dict:
    from spans import wave_profile

    wave_span = [s for s in tracer.spans if s["name"] == "engine.run_wave" and s["attrs"]["wave"] == w][-1]
    return wave_profile(wave_span, tracer.spans, jobs, n_cores)


def e2e_metrics(out: dict) -> dict:
    fetched = sum(s["n_fetched"] for s in out["timed"])
    return {
        "setup_s": (out["t_first"] - T_PROC0, "s"),
        "urls_per_s": (fetched / sum(out["walls"]), "1/s"),
        "wave_s_p50": (statistics.median(out["walls"]), "s"),
        "driver_rss_mb": (out["rss_mb"], "MB"),
    }


def layer_metrics(out: dict, tracer) -> dict:
    P = out["profiles"]
    T = out["timed"]
    n = len(P)

    def mean(key):
        return sum(p[key] for p in P) / n

    def tsum(table, key):
        return sum(p["tables"].get(table, {}).get(key, 0) for p in P)

    fetched = sum(s["n_fetched"] for s in T)
    links = sum(s["n_links"] for s in T)
    m = {
        "engine.jobs_per_wave": (mean("jobs"), "count"),
        "engine.stages_per_wave": (mean("stages"), "count"),
        "engine.tasks_per_wave": (mean("tasks"), "count"),
        "engine.driver_idle_s": (mean("driver_idle_s"), "s"),
        "engine.exec_cpu_util": (mean("exec_cpu_util"), "ratio"),
        "engine.span_coverage": (mean("span_coverage"), "ratio"),
        "fetch.ms_per_url": (1e3 * tsum("images", "s") / fetched, "ms"),
        "fetch.cpu_ms_per_url": (1e3 * tsum("images", "cpu_s") / fetched, "ms"),
        "links.ms_per_link": (1e3 * tsum("edges", "s") / links, "ms"),
        "links.cpu_ms_per_link": (1e3 * tsum("edges", "cpu_s") / links, "ms"),
        "admit.ms_per_candidate": (1e3 * tsum("seen", "s") / links, "ms"),
        "admit.shuffle_bytes": (tsum("seen", "shuffle_write_bytes") / n, "bytes"),
        "admit.yield": (sum(s["n_new"] for s in T) / links, "ratio"),
        "tables.bytes_per_url": (
            sum(t["bytes"] for p in P for t in p["tables"].values()) / fetched, "bytes"
        ),
        "bloom.fold_s": (mean("bloom_s"), "s"),
        "politeness.fetch_ratio": (fetched / sum(s["n_frontier"] for s in T), "ratio"),
        "tables.commit_s": (mean("commit_s"), "s"),
        "tables.write.wave_metrics.s": (tsum("wave_metrics", "s") / n, "s"),
    }
    for t in WAVE_TABLES:
        m[f"tables.write.{t}.s"] = (tsum(t, "s") / n, "s")
        m[f"tables.write.{t}.jobs"] = (tsum(t, "jobs") / n, "count")
        m[f"tables.write.{t}.bytes"] = (tsum(t, "bytes") / n, "bytes")
        m[f"tables.write.{t}.files"] = (tsum(t, "files") / n, "count")
    spans = {}
    for s in sorted(tracer.spans, key=lambda s: s["start"]):
        spans.setdefault(s["name"], s)  # the first call starts the session
    m["session.get_spark_s"] = (spans["session.get_spark"]["end"] - spans["session.get_spark"]["start"], "s")
    m["session.jvm_start_s"] = (spans["session.getOrCreate"]["end"] - spans["session.getOrCreate"]["start"], "s")
    m["trace.wave_s_p50"] = (statistics.median(out["walls"]), "s")
    m["trace.urls_per_s"] = (fetched / sum(out["walls"]), "1/s")
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report", action="store_true", help="summarize stored runs")
    args = ap.parse_args(argv)
    if args.report:
        from report import report

        print(json.dumps(report(RESULTS, WORKLOADS), indent=1))
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    if not (ROOT / "rendler_spark" / "engine.py").is_file():
        print(f"rendler_spark sources not found under {ROOT}", file=sys.stderr)
        return 2
    RESULTS.mkdir(exist_ok=True)
    work = HERE / ".work" / f"run-{os.getpid()}"
    # on SIGTERM, unwind through the finally blocks that stop Spark and
    # remove the work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        isolate(work)
        host = host_probe()
        tracer = None
        if args.trace:
            from spans import Tracer, install

            tracer = Tracer()
            install(tracer)
        # one vCPU is left to the driver, the JVM's service threads and the
        # Python worker daemon: on 4 vCPUs, local[4] read 15% apart run to
        # run (IQR over median of the large-wave time), local[3] 5%
        n_cores = max(1, min(4, os.cpu_count() or 1) - 1)
        out = run_crawl(args, WORKLOADS[args.workload], n_cores, work, tracer)
        host_after = host_probe()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if work.parent.exists() and not any(work.parent.iterdir()):
            work.parent.rmdir()

    correct = not out["errors"]
    metrics = {}
    if correct:
        metrics = layer_metrics(out, tracer) if args.trace else e2e_metrics(out)
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "n_cores": n_cores,
        "config": WORKLOADS[args.workload],
        "host_before": host,
        "host_after": host_after,
        "steal_share": steal_share(host, host_after),
        "timed_steal_share": out["timed_steal_share"],
        "errors": [f"wave {w}: {m}" if w is not None else m for w, m in out["errors"]],
        "fingerprint": out["fingerprint"],
        "waves": [
            {k: v for k, v in s.items() if k != "partitions"} for s in out["stats"]
        ],
        "timed_wall_s": out["walls"],
        "metrics": {k: v for k, (v, _) in metrics.items()},
        "profiles": out["profiles"],
    }
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    (RESULTS / f"{stem}.json").write_text(json.dumps(summary))
    if tracer is not None:
        (RESULTS / f"{stem}-spans.json").write_text(json.dumps(tracer.spans))
    for e in summary["errors"]:
        print(f"# error: {e}")
    print("# host " + json.dumps({
        "nproc": host["nproc"],
        "local_cores": n_cores,
        "loadavg_before": host["loadavg"],
        "loadavg_after": host_after["loadavg"],
        "steal_share": summary["steal_share"],
        "timed_steal_share": summary["timed_steal_share"],
    }))
    print(f"# fingerprint {json.dumps(out['fingerprint'])}")
    print(json.dumps({
        "correct": correct,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
