"""Benchmark of the engine: one command, named workloads, checked outputs.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke        # every workload at toy size

Run it from the root of a checkout. A run:

1. checks the workload's fixture, a read-only copy of the seed-42 test
   tables under ``perfbench/data`` (or ``--fixture-root``), against its
   SHA256SUMS; this is not timed;
2. starts the engine process (perfbench/worker.py) twice with fresh
   state, each time measuring launch -> session -> input materialized, and
   reports the median as ``setup_s``; the last start also runs the measured
   loop and the output check, and for ``kmer`` every start times a cold pass;
3. samples the RSS of the engine's process tree (Python driver, JVM, Python
   workers) while it runs, and after it exits measures what it left in its
   private state directories, then deletes them;
4. prints a summary and, as its last line, one JSON object with ``correct``,
   ``attempted``, ``failed`` and ``metrics``: the ``end_to_end`` metrics that
   BENCHMARK.json names, or with ``--trace 1`` its ``per_layer`` ones (the
   summary lines show every other layer counter). Details go to
   ``.perfbench/results``.

Every engine process gets its own TMPDIR (which holds the package's layout
root and the streaming checkpoints), SPARK_LOCAL_DIRS, warehouse directory
and java.io.tmpdir under ``.perfbench/state``; nothing outside the checkout
is read or written. Host settings are pinned: ``SPARK_GRAFT_CPUS`` is the
core count and ``SPARK_GRAFT_DRIVER_MEM`` is DRIVER_MEM.
"""

from __future__ import annotations

import argparse
import ctypes
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import tracing
from workloads import WORKLOADS, resolve

DRIVER_MEM = "2g"
# engine processes started per run; each is one set-up sample (the extra ones
# exit once set up), so setup_s is their median. Two, not more, because a
# run must end in about a minute and a kmer start costs 15 s
SETUP_SAMPLES = 2
SMOKE_SECONDS = 2.0
TAIL_PERCENTILES = (99, 95, 90, 75)
# traced runs: Spark's job times must fall inside the client's declare and
# execute spans, and the query, trace and cleanup spans must cover the pass
# wall, each within this much (absolute + share of the span's wall)
RECONCILE_ABS_S, RECONCILE_REL = 0.025, 0.02
REQUIRED = (
    "BENCHMARK.json",
    "sycl_mapreduce_cpu_gpu_hybrid_spark/__init__.py",
    "__spark_entry__.py",
    "tests/parity.py",
)
HERE = os.path.dirname(os.path.abspath(__file__))
PAGE = os.sysconf("SC_PAGE_SIZE")


class RssSampler(threading.Thread):
    """Peak summed RSS of a process and all its descendants."""

    def __init__(self, pid: int, interval: float = 0.5) -> None:
        super().__init__(daemon=True)
        self.pid, self.interval = pid, interval
        self.peak_bytes = 0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            pids = [self.pid, *tracing.descendants(self.pid)]
            total = 0
            for pid in pids:
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1]) * PAGE
                except (OSError, IndexError, ValueError):
                    pass
            self.peak_bytes = max(self.peak_bytes, total)
            self._halt.wait(self.interval)

    def stop(self) -> None:
        self._halt.set()
        self.join()


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(dirpath, name)).st_size
            except OSError:
                pass
    return total


def _stop_strays() -> None:
    """Terminate and reap whatever is left under this process once an
    engine process has exited: its orphans (a JVM, Python workers) are
    re-parented here because this process is their subreaper."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        alive = tracing.descendants(os.getpid())
        for pid in alive:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 10
        while alive and time.monotonic() < deadline:
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
            time.sleep(0.05)
        if not alive:
            return


def _cpu_steal() -> tuple[int, int]:
    """(steal ticks, total ticks) summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def host_ref_s() -> float:
    """Seconds for a fixed single-threaded sort of 8M doubles (median of
    three), timed just before the measured process: a receipt of how fast
    the host was during a run, to tell a shift of the whole host from a
    change in the engine."""
    import numpy as np

    data = np.random.default_rng(0).random(8_000_000)
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        np.sort(data)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def launch(args, wl, fixture_dir: str, state: str, probe: bool) -> tuple[dict, dict]:
    """Start one engine process with fresh state under ``state``; return
    (its result, host-side measurements)."""
    dirs = {d: os.path.join(state, d) for d in ("tmp", "local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    out = os.path.join(state, "result.json")
    env = dict(os.environ)
    env.update(
        TMPDIR=dirs["tmp"],
        SPARK_LOCAL_DIRS=dirs["local"],
        SPARK_GRAFT_CPUS=str(os.cpu_count()),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(filter(None, [os.getcwd(), env.get("PYTHONPATH")])),
        # the JVM's scratch files and perf-data stay out of /tmp
        JDK_JAVA_OPTIONS=f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", wl.name, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--fixture", fixture_dir,
        "--warehouse", dirs["warehouse"], "--out", out,
    ] + (["--smoke"] if args.smoke else []) + (["--probe"] if probe else [])
    steal0 = _cpu_steal()
    launched = time.monotonic()
    proc = subprocess.Popen(
        cmd + ["--launched", repr(launched)], env=env,
        stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True,
    )
    sampler = RssSampler(proc.pid)
    sampler.start()
    try:
        _, err = proc.communicate(timeout=120 if probe else args.seconds + 150)
    except subprocess.TimeoutExpired:
        proc.kill()
        _, err = proc.communicate()
        err = (err or "") + "\n[perfbench] engine process timed out"
    finally:
        sampler.stop()
        _stop_strays()
    if proc.returncode != 0 or not os.path.exists(out):
        tail = "\n".join((err or "").strip().splitlines()[-25:])
        raise RuntimeError(f"engine process exited with {proc.returncode}:\n{tail}")
    with open(out) as f:
        result = json.load(f)
    steal1 = _cpu_steal()
    host = {
        "wall_s": time.monotonic() - launched,
        # share of CPU time the hypervisor gave to other guests: run-to-run noise
        "steal_frac": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "peak_rss_mb": sampler.peak_bytes / tracing.MB,
        "persisted_mb": sum(_dir_bytes(d) for d in dirs.values()) / tracing.MB,
    }
    return result, host


def _tail(values: list[float]) -> tuple[float | None, int | None]:
    """Highest percentile with at least ten samples beyond it."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        if n * (100 - p) / 100 >= 10:
            return statistics.quantiles(values, n=100, method="inclusive")[p - 1], p
    return None, None


def _median(values) -> float:
    """Median, or 0.0 when every sample failed (the run is then incorrect)."""
    values = list(values)
    return statistics.median(values) if values else 0.0


def summarize(result: dict, setups: list[float], cold_passes: list[dict], host: dict) -> dict:
    """End-to-end metrics, the summary's other figures and failure counts.
    ``cold_passes`` holds the main process's cold pass and any the set-up
    probes ran."""
    passes = result["passes"]
    measured = _measured(passes)
    warm = [p for p in measured if not p["traced"]] or measured
    first_latency: dict[str, list[float]] = {}
    warm_latency: list[float] = []
    per_unit_warm: dict[str, list[float]] = {}
    for p in cold_passes + passes[1:]:
        for q in p["queries"]:
            if q["error"] is not None:
                continue
            lat = q["declare_s"] + q["execute_s"]
            if p["cold"]:
                first_latency.setdefault(q["name"], []).append(lat)
            elif p in warm:
                warm_latency.append(lat)
                per_unit_warm.setdefault(q["name"], []).append(lat)
    executed = [q for p in cold_passes + passes[1:] for q in p["queries"]]
    attempted = len(executed)
    verification = result["verification"]
    mismatched = {n for n, v in verification.items() if not v.get("ok")}
    failed = sum(1 for q in executed if q["error"] is not None or q["name"] in mismatched)
    tail, tail_p = _tail(warm_latency)
    e2e = {
        "setup_s": (_median(setups), "s"),
        "cold_pass_s": (_median(p["wall_s"] for p in cold_passes), "s"),
        "warm_pass_s": (_median(p["wall_s"] for p in warm), "s"),
        # the typical unit: median over units of each unit's median warm latency
        "query_p50_s": (_median(_median(v) for v in per_unit_warm.values()), "s"),
        "cold_query_p50_s": (_median(_median(v) for v in first_latency.values()), "s"),
    }
    info = {
        "setup_samples_s": setups,
        "window_s": result["window_s"],
        "verify_s": result["verify_s"],
        "failed_frac": failed / attempted,
        "warm_passes": len(warm),
        "warm_executions": len(warm_latency),
        "query_tail_s": tail,
        "query_tail_percentile": tail_p,
        "peak_rss_mb": host["peak_rss_mb"],
        "persisted_mb": host["persisted_mb"],
        "steal_frac": host["steal_frac"],
        "host_ref_s": host["ref_s"],
        "engine_wall_s": host["wall_s"],
        "probe_walls_s": host["probe_walls_s"],
        "mismatched": sorted(mismatched),
        "cold_passes_s": [p["wall_s"] for p in cold_passes],
        "errors": sorted({f"{q['name']}: {q['error']}" for q in executed if q["error"]}),
    }
    for unit, n in result["windows"].items():
        execs = [q["execute_s"] for p in warm for q in p["queries"] if q["name"] == unit and q["error"] is None]
        if execs:
            info[f"{unit}_windows_per_s"] = n / _median(execs)
    return {"e2e": e2e, "info": info, "attempted": attempted, "failed": failed,
            "correct": failed == 0 and not mismatched}


def _measured(passes: list[dict]) -> list[dict]:
    """The warm passes of the measured window (not cold, not warm-up)."""
    return [p for p in passes[1:] if not p["warmup"]]


def layer_metrics(result: dict, host: dict) -> tuple[dict, dict]:
    """Per-layer metrics of a traced run: the median over traced warm
    passes under the layer's name, the cold pass under ``<name>.cold``."""
    passes = result["passes"]
    cold = passes[0]["layers"]
    warm_traced = [p["layers"] for p in _measured(passes) if p["traced"]]
    units = {"_s": "s", "_mb": "MB", "_ratio": "ratio"}
    metrics = {}
    for name in sorted(cold):
        unit = next((u for suffix, u in units.items() if name.endswith(suffix)), "count")
        metrics[name] = (statistics.median(w[name] for w in warm_traced), unit)
        metrics[f"{name}.cold"] = (cold[name], unit)
    metrics["session.start_s"] = (result["session_start_s"], "s")
    metrics["sources.persisted_mb"] = (host["persisted_mb"], "MB")
    metrics["session.peak_rss_mb"] = (host["peak_rss_mb"], "MB")
    traced_walls = [p["wall_s"] for p in _measured(passes) if p["traced"]]
    plain_walls = [p["wall_s"] for p in _measured(passes) if not p["traced"]]
    overhead = statistics.median(traced_walls) / statistics.median(plain_walls) - 1
    metrics["trace.overhead_frac"] = (overhead, "ratio")
    # independent figures that must agree, per traced query and per pass
    jobs_excess = [
        q["jobs_outside_s"] - RECONCILE_REL * q["wall_s"]
        for p in passes if p["traced"] for q in p["queries"] if "jobs_outside_s" in q
    ]
    pass_excess = [abs(p["unaccounted_s"]) - RECONCILE_REL * p["wall_s"] for p in passes]
    worst_jobs, worst_pass = max(jobs_excess, default=0.0), max(pass_excess, default=0.0)
    reconcile = {
        "tolerance": f"{RECONCILE_ABS_S * 1000:g} ms + {RECONCILE_REL:.0%} of the span's wall",
        "queries_checked": len(jobs_excess),
        "jobs_outside_phase_excess_s": worst_jobs,
        "pass_unaccounted_excess_s": worst_pass,
        "ok": max(worst_jobs, worst_pass) <= RECONCILE_ABS_S,
    }
    return metrics, reconcile


def check_fixture(path: str) -> str:
    """``path`` if every table listed in its SHA256SUMS has that digest."""
    with open(os.path.join(path, "SHA256SUMS")) as f:
        for line in f:
            digest, name = line.split()
            with open(os.path.join(path, name), "rb") as t:
                if hashlib.sha256(t.read()).hexdigest() != digest:
                    raise RuntimeError(f"fixture table {path}/{name} does not match SHA256SUMS")
    return path


def run_one(args) -> dict:
    wl = resolve(args.workload, args.smoke)
    root = os.path.join(os.getcwd(), ".perfbench")
    fx = check_fixture(os.path.abspath(os.path.join(args.fixture_root, wl.fixture)))
    state_root = os.path.join(root, "state", f"{wl.name}-{os.getpid()}")
    shutil.rmtree(state_root, ignore_errors=True)
    setups, cold_passes, probe_walls = [], [], []
    try:
        probes = 0 if (args.trace or args.smoke) else SETUP_SAMPLES - 1
        for i in range(probes):
            probe, probe_host = launch(args, wl, fx, os.path.join(state_root, f"probe{i}"), probe=True)
            setups.append(probe["setup_s"])
            cold_passes.extend(probe.get("passes", []))
            probe_walls.append(probe_host["wall_s"])
        ref = host_ref_s()
        result, host = launch(args, wl, fx, os.path.join(state_root, "main"), probe=False)
        setups.append(result["setup_s"])
        cold_passes.append(result["passes"][0])
        host["probe_walls_s"], host["ref_s"] = probe_walls, ref
    finally:
        shutil.rmtree(state_root, ignore_errors=True)
    summary = summarize(result, setups, cold_passes, host)
    out = {"workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
           "settings": result["settings"], **summary}
    if args.trace:
        out["layers"], out["reconcile"] = layer_metrics(result, host)
        out["spans"] = result["spans"]
    out["passes"], out["verification"] = result["passes"], result["verification"]
    os.makedirs(os.path.join(root, "results"), exist_ok=True)
    tag = "smoke" if args.smoke else f"seed{args.seed}-trace{args.trace}"
    path = os.path.join(root, "results", f"{wl.name}-{tag}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, default=str)
    out["artifact"] = os.path.relpath(path)
    return out


def _line(result: dict, metrics: dict) -> str:
    return json.dumps({
        "correct": result["correct"], "attempted": result["attempted"], "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })


def _report(r: dict) -> None:
    print(f"workload {r['workload']} seed {r['seed']}: correct={r['correct']} "
          f"attempted={r['attempted']} failed={r['failed']}  (details: {r['artifact']})")
    print("settings " + json.dumps(r["settings"], sort_keys=True))
    for k, (v, u) in r["e2e"].items():
        print(f"  {k:<18} {v:12.4f} {u}")
    info = r["info"]
    tail = info["query_tail_s"]
    print(f"  query_tail_s       {'n/a' if tail is None else f'{tail:12.4f}'} s "
          f"(p{info['query_tail_percentile']} of {info['warm_executions']} warm executions)")
    for k, v in info.items():
        if k not in ("query_tail_s", "query_tail_percentile"):
            print(f"  {k}: {v}")
    if "reconcile" in r:
        print(f"  reconcile: {r['reconcile']}")
        if not r["reconcile"]["ok"]:
            msg = f"RECONCILE FAILED: traced spans and Spark's job times disagree beyond {r['reconcile']['tolerance']}"
            print(msg)
            print(f"perfbench: {msg}", file=sys.stderr)


def main() -> int:
    ap = argparse.ArgumentParser(description="Engine benchmark (see perfbench/NOTES.md).")
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="every workload at toy size")
    ap.add_argument("--fixture-root", default=os.path.join(HERE, "data"),
                    help="directory holding the workloads' fixture directories")
    args = ap.parse_args()
    missing = [p for p in REQUIRED if not os.path.exists(p)]
    if missing:
        print(f"perfbench: run from a checkout of the engine; missing {missing}", file=sys.stderr)
        return 2
    if not args.smoke and not args.workload:
        ap.error("--workload is required unless --smoke")
    # orphaned engine processes are re-parented here, so they can be reaped
    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    # on SIGTERM unwind through launch()'s finally, which stops the engine
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if args.smoke:
        args.seconds = SMOKE_SECONDS
        results = []
        for name in WORKLOADS:
            args.workload = name
            r = run_one(args)
            _report(r)
            results.append(r)
        combined = {"correct": all(r["correct"] for r in results),
                    "attempted": sum(r["attempted"] for r in results),
                    "failed": sum(r["failed"] for r in results)}
        metrics = {f"{r['workload']}.{k}": m for r in results for k, m in r["e2e"].items()}
        print(_line(combined, metrics))
        return 0

    r = run_one(args)
    _report(r)
    with open("BENCHMARK.json") as f:
        declared = [m["name"] for m in json.load(f)["per_layer" if args.trace else "end_to_end"]]
    measured = r["layers"] if args.trace else r["e2e"]
    if args.trace:
        for name in sorted(set(measured) - set(declared)):
            print(f"  {name:<40} {measured[name][0]:14.6f} {measured[name][1]}")
    print(_line(r, {name: measured[name] for name in declared}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
