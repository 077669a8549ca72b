#!/usr/bin/env python3
"""Compare benchmark results kept by run.py in `.bench_build/results/`.

    python3 perfbench/compare.py BASE NEW     # two sets of runs, e.g. parent vs change
    python3 perfbench/compare.py --overhead DIR
    python3 perfbench/compare.py --repeat DIR

Each argument is a result file or a directory of them; results of the
tiny smoke inputs are skipped. Results are
compared only when their host fingerprints agree (cores, `local[n]`,
memory, heap, JDK, Spark); otherwise the script refuses and exits 2.

* BASE NEW: per workload and end-to-end metric, each side's median and
  quartiles, the change of the medians as a share of BASE's median
  (positive = worse), and the verdict against the metric's bound in
  BENCHMARK.json. A metric whose BASE quartile spread exceeds its bound is
  reported unresolved unless every NEW run beats every BASE run. Runs with
  failed operations are left out of the medians; each side's count of
  them is printed, and a side with more of them is marked.
* --overhead: per workload, the end-to-end medians of traced runs against
  untraced ones: the cost of tracing.
* --repeat: per workload and seed with at least two traced runs, every
  count (jobs, files, bytes) that differs between them.
"""
import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HOST_KEYS = ("nproc", "cores", "master", "mem_total_mb", "max_heap_mb", "jdk", "spark")
COUNT_UNITS = ("count", "bytes")


def load(arg):
    p = Path(arg)
    files = sorted(p.glob("*.json")) if p.is_dir() else [p]
    records = [json.loads(f.read_text()) for f in files if not f.name.endswith(".spans.jsonl")]
    return [r for r in records if r["fingerprint"]["size"] == "full"]


def same_host(records):
    hosts = {tuple(r["fingerprint"].get(k) for k in HOST_KEYS) for r in records}
    if len(hosts) > 1:
        print("refusing to compare results from different hosts:", file=sys.stderr)
        for h in sorted(hosts, key=str):
            print("  " + json.dumps(dict(zip(HOST_KEYS, h))), file=sys.stderr)
        sys.exit(2)


def by_workload(records, trace):
    """Per workload: the runs without failed operations, and the number of
    runs with them."""
    out, dropped = {}, {}
    for r in records:
        if r["fingerprint"]["trace"] == trace:
            wl = r["fingerprint"]["workload"]
            out.setdefault(wl, [])
            if r["failed"] == 0:
                out[wl].append(r)
            else:
                dropped[wl] = dropped.get(wl, 0) + 1
    return out, dropped


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def values(runs, metric):
    return [r["e2e"][metric]["value"] for r in runs if metric in r["e2e"]]


def compare(base, new, spec):
    (b, b_failed), (n, n_failed) = by_workload(base, 0), by_workload(new, 0)
    for wl in sorted(set(b) & set(n)):
        bf, nf = b_failed.get(wl, 0), n_failed.get(wl, 0)
        mark = "  NEW FAILS MORE RUNS" if nf > bf else "  BASE FAILS MORE RUNS" if bf > nf else ""
        print(f"== {wl}: {len(b[wl])} base runs ({bf} with failures left out), "
              f"{len(n[wl])} new runs ({nf} with failures left out){mark}")
        for m in spec["end_to_end"]:
            name, lower, bound = m["name"], m["better"] == "lower", m["bound"]
            bv, nv = values(b[wl], name), values(n[wl], name)
            if not bv or not nv:
                continue
            bq, nq = quartiles(bv), quartiles(nv)
            change = (nq[1] - bq[1]) / bq[1] * (1 if lower else -1)
            spread = (bq[2] - bq[0]) / bq[1]
            all_better = (max(nv) < min(bv)) if lower else (min(nv) > max(bv))
            if spread > bound and not all_better:
                verdict = "unresolved"
            elif change > bound:
                verdict = "WORSE beyond bound"
            else:
                verdict = "within bound" if change >= 0 else "better"
            print(f"  {name:<12} base {bq[1]:.4g} [{bq[0]:.4g}, {bq[2]:.4g}]  "
                  f"new {nq[1]:.4g} [{nq[0]:.4g}, {nq[2]:.4g}] {m['unit']}  "
                  f"change {change:+.1%} (bound {bound:.0%}, base spread {spread:.1%})  {verdict}")


def overhead(records, spec):
    (plain, _), (traced, _) = by_workload(records, 0), by_workload(records, 1)
    for wl in sorted(set(plain) & set(traced)):
        parts = []
        for m in spec["end_to_end"]:
            pv, tv = values(plain[wl], m["name"]), values(traced[wl], m["name"])
            if pv and tv:
                p, t = statistics.median(pv), statistics.median(tv)
                parts.append(f"{m['name']} {p:.4g} -> {t:.4g} {m['unit']} ({(t - p) / p:+.1%})")
        print(f"{wl} (untraced {len(plain[wl])} runs, traced {len(traced[wl])}): " + "; ".join(parts))


def repeat(records, spec):
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    groups = {}
    for r in records:
        fp = r["fingerprint"]
        if fp["trace"] == 1:
            groups.setdefault((fp["workload"], fp["seed"]), []).append(r)
    for (wl, seed), runs in sorted(groups.items()):
        if len(runs) < 2:
            continue
        a, b = runs[0]["layers"], runs[1]["layers"]
        diff = [k for k in sorted(a) if units.get(k) in COUNT_UNITS and a[k]["value"] != b.get(k, {}).get("value")]
        shown = ", ".join(f"{k} {a[k]['value']:g} vs {b[k]['value']:g}" for k in diff)
        print(f"{wl} seed {seed}: " + (f"{len(diff)} counts differ: {shown}" if diff else "every count repeats"))


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    args = sys.argv[1:]
    if len(args) == 2 and args[0] in ("--overhead", "--repeat"):
        records = load(args[1])
        same_host(records)
        (overhead if args[0] == "--overhead" else repeat)(records, spec)
    elif len(args) == 2:
        base, new = load(args[0]), load(args[1])
        same_host(base + new)
        compare(base, new, spec)
    else:
        print(__doc__, file=sys.stderr)
        sys.exit(2)


if __name__ == "__main__":
    main()
