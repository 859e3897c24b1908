"""Compare two sets of benchmark runs, telling code changes from host drift.

    python3 perfbench/compare.py BASE_DIR HEAD_DIR

Each directory holds the run artifacts (``<workload>-seed<n>-trace0.json``)
that ``run.py`` writes to ``.perfbench/results``; copy that directory aside
after each set. For every workload in both sets and every end-to-end metric
of BENCHMARK.json this prints both medians, the change, each set's quartile
spread and a verdict:

- ``within``: the change is inside the metric's bound;
- ``regressed`` / ``improved``: it is outside, and the host reference
  (``host_ref_s``, a fixed NumPy sort timed before every run) agrees between
  the sets within their own spread;
- ``unresolved``: it is outside, but the host reference moved by more than
  its spread within either set, so the host, not the code, may explain it.
  Re-run the sets interleaved (base and head alternating seed by seed).

Exits 1 if any metric regressed.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys


def load(directory: str) -> dict[str, dict[str, list[float]]]:
    """{workload: {metric: values}} over the untraced artifacts of a set;
    the host reference is kept under ``host_ref_s``."""
    out: dict[str, dict[str, list[float]]] = {}
    for path in sorted(glob.glob(os.path.join(directory, "*-trace0.json"))):
        with open(path) as f:
            r = json.load(f)
        if not r.get("correct"):
            continue
        vals = out.setdefault(r["workload"], {})
        for name, (value, _unit) in r["e2e"].items():
            vals.setdefault(name, []).append(value)
        vals.setdefault("host_ref_s", []).append(r["info"]["host_ref_s"])
    return out


def spread(values: list[float]) -> float:
    """Distance between the first and third quartiles over the median."""
    if len(values) < 2:
        return 0.0
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    base, head = load(sys.argv[1]), load(sys.argv[2])
    with open("BENCHMARK.json") as f:
        metrics = json.load(f)["end_to_end"]
    regressed = False
    for wl in sorted(set(base) & set(head)):
        b_ref, h_ref = base[wl]["host_ref_s"], head[wl]["host_ref_s"]
        ref_drift = statistics.median(h_ref) / statistics.median(b_ref) - 1
        host_moved = abs(ref_drift) > max(spread(b_ref), spread(h_ref))
        print(f"{wl}: {len(b_ref)} vs {len(h_ref)} runs, host_ref_s drift {ref_drift:+.3f}"
              f" (spreads {spread(b_ref):.3f} / {spread(h_ref):.3f})")
        for m in metrics:
            name = m["name"]
            if name not in base[wl] or name not in head[wl]:
                continue
            b, h = statistics.median(base[wl][name]), statistics.median(head[wl][name])
            change = h / b - 1
            worse = change if m["better"] == "lower" else -change
            if abs(change) <= m["bound"]:
                verdict = "within"
            elif host_moved:
                verdict = "unresolved"
            else:
                verdict = "regressed" if worse > 0 else "improved"
            regressed |= verdict == "regressed"
            print(f"  {name:<18} {b:10.4f} -> {h:10.4f} {m['unit']:<4} {change:+.3f}"
                  f"  spreads {spread(base[wl][name]):.3f} / {spread(head[wl][name]):.3f}"
                  f"  bound {m['bound']}  {verdict}")
    return 1 if regressed else 0


if __name__ == "__main__":
    sys.exit(main())
