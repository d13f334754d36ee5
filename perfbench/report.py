#!/usr/bin/env python3
"""Trace report for the graft benchmark.

    python3 perfbench/report.py [RUNS_DIR] [--baseline FILE [--set NAME=FIRST-LAST ...]]

Reads the run records perfbench/run.py left under perfbench/out/runs and
prints, per workload:

  * per-layer self time of the cold pass and of the mean warm pass, from the
    spans of the latest traced run. A span's self time is its duration minus
    the part of it its children cover;
  * the per-layer counts that run reported;
  * a coverage check: each query's child spans (build and exec) must cover
    its wall time to within COVER_TOL;
  * the tracing overhead: the median of each end-to-end metric over traced
    runs minus its median over untraced runs.

With --baseline it also writes FILE. Each --set names a set of untraced
runs by its seeds, first to last; without one, all untraced runs are one
set. Per set and workload FILE holds the median, quartiles and spread
(quartile distance over median) of each end-to-end metric BENCHMARK.json
names, and of the wall times behind them, and the host's load and steal
over the set; then each set's medians relative to the first set's, the
tracing overhead, the self-time split of the warm pass by layer, and the
split of the relational queries' warm time between Spark jobs, plans and
the driver.

Exits 1 if a traced query fails the coverage check.
"""
import collections
import json
import statistics
import sys
from pathlib import Path

# A query's build and exec spans must cover its wall time but for this
# share or COVER_TOL_MS, whichever is larger: the harness does nothing
# between them but set the job group.
COVER_TOL = 0.01
COVER_TOL_MS = 2.0
SPEC = Path(__file__).resolve().parent.parent / "BENCHMARK.json"
END_TO_END = [m["name"] for m in json.loads(SPEC.read_text())["end_to_end"]]
# Wall times and operation latencies of the run record, reported next to
# the end-to-end metrics.
WALL = ("setup_wall_s", "cold_pass_s", "warm_pass_s", "op_p50_ms", "op_tail_ms")
# Batch queries that are not relational: the round-loop graph query and the
# write round trips.
NOT_RELATIONAL = ("q_graph_", "q_sink_", "q_cdc_", "q_source_")

# What a span kind's self time is, by layer.
LAYER = {
    "pass": "bench (between queries, incl. digests)",
    "query": "bench (between build and exec)",
    "digest": "bench (result digest)",
    "build": "queries (operator construction in the client)",
    "exec": "exec, client side (action outside plans and jobs)",
    "plans": "plans (analysis, optimization, planning)",
    "job": "sched (within a job, between stages)",
    "stage": "exec (stages: tasks and their scheduling)",
    "batch": "streaming (micro-batches)",
}
# Spans recorded from listener events and query trackers, placed under the
# innermost client span that contains their start.
NESTED = ("plans", "job", "stage", "batch")


def union(ivs, lo, hi):
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in ivs):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def nest(spans):
    """Re-parent listener spans to the innermost span containing their start."""
    by_id = {s["id"]: s for s in spans}
    order = {"query": 0, "build": 1, "exec": 1, "batch": 2, "job": 3, "stage": 4}
    for s in spans:
        if s["kind"] not in NESTED or s["parent"] not in by_id:
            continue
        q = by_id[s["parent"]]
        while q["kind"] != "query" and q["parent"] in by_id:
            q = by_id[q["parent"]]
        cands = [c for c in spans if c is not s and c["kind"] in order
                 and order[c["kind"]] < order.get(s["kind"], 2)
                 and c["start_ms"] - 1 <= s["start_ms"] <= c["end_ms"] + 1
                 and (c is q or under(c, q["id"], by_id))]
        if cands:
            s["parent"] = max(cands, key=lambda c: (order[c["kind"]], -(c["end_ms"] - c["start_ms"])))["id"]
    return by_id


def under(s, root, by_id):
    while s["parent"] in by_id:
        if s["parent"] == root:
            return True
        s = by_id[s["parent"]]
    return False


def self_times(spans):
    by_id = nest(spans)
    kids = collections.defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    passes = [s for s in spans if s["kind"] == "pass"]
    out, bad, cover = {}, [], []
    for p in passes:
        acc = collections.Counter()
        stack = [p]
        while stack:
            s = stack.pop()
            ch = kids[s["id"]]
            dur = s["end_ms"] - s["start_ms"]
            acc[s["kind"]] += (dur - union([(c["start_ms"], c["end_ms"]) for c in ch],
                                           s["start_ms"], s["end_ms"])) / 1000
            stack += ch
            if s["kind"] == "query" and dur > 0:
                own = [c for c in ch if c["kind"] in ("build", "exec")]
                share = union([(c["start_ms"], c["end_ms"]) for c in own],
                              s["start_ms"], s["end_ms"]) / dur
                cover.append(share)
                if (1 - share) * dur > max(COVER_TOL * dur, COVER_TOL_MS):
                    bad.append((p["name"], s["name"], share))
        out[p["name"]] = acc
    return out, bad, cover


def stats(vs):
    q = statistics.quantiles(vs, n=4)
    med = statistics.median(vs)
    return {"n": len(vs), "median": med, "q1": q[0], "q3": q[2],
            "spread": (q[2] - q[0]) / med if med else None}


def relational_split(spans):
    """Mean warm pass of the relational queries: their wall time, the part
    of it in which a Spark job runs, and the time in Catalyst's phases and
    in building the operators."""
    by_id = nest(spans)
    kids = collections.defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)

    def below(s):
        for c in kids[s["id"]]:
            yield c
            yield from below(c)

    warm = [s for s in spans if s["kind"] == "pass" and s["name"] != "cold"]
    acc = collections.Counter()
    for p in warm:
        for q in kids[p["id"]]:
            if q["kind"] != "query" or q["name"].startswith(NOT_RELATIONAL):
                continue
            sub = list(below(q))
            acc["queries"] += 1
            acc["wall_s"] += (q["end_ms"] - q["start_ms"]) / 1000
            acc["jobs_running_s"] += union([(c["start_ms"], c["end_ms"]) for c in sub
                                            if c["kind"] == "job"],
                                           q["start_ms"], q["end_ms"]) / 1000
            acc["plans_phases_s"] += sum(c["end_ms"] - c["start_ms"] for c in sub
                                         if c["kind"] == "plans") / 1000
            acc["build_s"] += sum(c["end_ms"] - c["start_ms"] for c in sub
                                  if c["kind"] == "build") / 1000
    if not warm or not acc["wall_s"]:
        return None
    out = {k: v / len(warm) for k, v in acc.items()}
    out["no_job_running_s"] = out["wall_s"] - out["jobs_running_s"]
    for k in ("no_job_running_s", "plans_phases_s", "build_s"):
        out[k.rsplit("_s", 1)[0] + "_share"] = out[k] / out["wall_s"]
    return out


def main():
    args = sys.argv[1:]
    baseline, sets = None, []
    while "--set" in args:
        i = args.index("--set")
        name, rng = args[i + 1].split("=")
        lo, hi = (int(x) for x in rng.split("-"))
        sets.append((name, lo, hi))
        del args[i:i + 2]
    if "--baseline" in args:
        i = args.index("--baseline")
        baseline = Path(args[i + 1])
        del args[i:i + 2]
    runs_dir = Path(args[0]) if args else Path(__file__).resolve().parent / "out" / "runs"
    records = [json.loads(f.read_text()) | {"_file": f}
               for f in sorted(runs_dir.glob("*.json")) if not f.name.endswith(".spans.json")]
    sets = sets or [("all", -2**63, 2**63)]
    summary = {"end_to_end": {n: {} for n, _, _ in sets}, "median_vs_first_set": {},
               "tracing_overhead": {}, "warm_self_s": {}, "relational_warm_split": None}
    failed = False
    for w in sorted({r["workload"] for r in records}):
        rs = [r for r in records if r["workload"] == w]
        plain = [r for r in rs if r["trace"] == 0]
        traced = [r for r in rs if r["trace"] == 1]
        print(f"== {w}: {len(plain)} untraced, {len(traced)} traced runs")
        for name, lo, hi in sets:
            srs = [r for r in plain if lo <= r["seed"] <= hi]
            if len(srs) < 2:
                continue
            out = summary["end_to_end"][name][w] = {"seeds": sorted(r["seed"] for r in srs)}
            print(f"-- set {name}: {len(srs)} runs")
            for k in END_TO_END + list(WALL):
                vs = [r["harness"][k] for r in srs if r["harness"].get(k) is not None]
                if len(vs) >= 2:
                    out[k] = stats(vs)
                    print(f"   {k:18s} median {out[k]['median']:12.4f}  "
                          f"spread {out[k]['spread']:.3f}")
            out["host"] = {k: [min(r["host"][k] for r in srs), max(r["host"][k] for r in srs)]
                           for k in ("load1_start", "load1_max", "steal_pct")}
        first = summary["end_to_end"][sets[0][0]].get(w)
        for name, _, _ in sets[1:]:
            other = summary["end_to_end"][name].get(w)
            if first and other:
                summary["median_vs_first_set"].setdefault(name, {})[w] = {
                    k: other[k]["median"] / first[k]["median"] - 1
                    for k in END_TO_END if k in first and k in other}
        if traced:
            t = traced[-1]
            spans_file = Path(str(t["_file"])[:-len(".json")] + ".spans.json")
            print(f"-- self time by layer, seed {t['seed']} ({spans_file.name})")
            spans = json.loads(spans_file.read_text())
            passes, bad, cover = self_times(spans)
            warm = [v for k, v in passes.items() if k != "cold"]
            kinds = [k for k in LAYER if any(k in v for v in passes.values())]
            print(f"   {'layer':52s} {'cold s':>8s} {'warm s':>8s}")
            ws = summary["warm_self_s"][w] = {}
            for k in kinds:
                wv = sum(v[k] for v in warm) / len(warm) if warm else 0.0
                ws[LAYER[k]] = wv
                print(f"   {LAYER[k]:52s} {passes.get('cold', {}).get(k, 0.0):8.3f} {wv:8.3f}")
            if cover:
                print(f"-- coverage: {len(cover)} queries, child spans cover "
                      f"min {min(cover):.4f} median {statistics.median(cover):.4f} of wall "
                      f"(tolerance {COVER_TOL} or {COVER_TOL_MS} ms); {len(bad)} outside")
            for b in bad[:10]:
                print(f"   OUTSIDE {b[0]} {b[1]} {b[2]:.4f}")
            failed |= bool(bad)
            split = relational_split(spans) if w == "batch" else None
            if split:
                summary["relational_warm_split"] = {"seed": t["seed"], **split}
                print("-- relational queries, mean warm pass: " + ", ".join(
                    f"{k} {v:.4g}" for k, v in split.items()))
            print("-- per-layer metrics (warm pass mean | cold pass)")
            m = t["layers"]
            for k in sorted(k for k in m if not k.startswith("cold.")):
                c = m.get(f"cold.{k}")
                cs = f" | {c:.6g}" if c is not None else ""
                print(f"   {k:34s} {m[k]:14.6g}{cs}")
        if plain:
            h = plain[-1]["harness"]
            if h.get("op_tail_ms") is not None:
                print(f"-- warm op tail (latest untraced run): {h['op_tail_ms']:.1f} ms wall at "
                      f"p{h['op_tail_pct']:.0f} of {h['op_samples']} samples, the highest "
                      f"percentile with ten samples beyond it")
            else:
                print(f"-- warm op tail: none, {h['op_samples']} samples leave no percentile "
                      f"with ten beyond it")
        if traced and plain:
            print("-- tracing overhead (median traced - median untraced)")
            to = summary["tracing_overhead"][w] = {}
            for k in END_TO_END + list(WALL):
                a = [r["harness"][k] for r in traced if r["harness"].get(k) is not None]
                b = [r["harness"][k] for r in plain if r["harness"].get(k) is not None]
                if a and b:
                    ma, mb = statistics.median(a), statistics.median(b)
                    to[k] = {"traced_runs": len(a), "delta": ma - mb, "share": (ma - mb) / mb}
                    print(f"   {k:18s} {ma - mb:+10.4f} ({100 * (ma - mb) / mb:+.1f} %)")
    if baseline:
        baseline.write_text(json.dumps(summary, indent=1) + "\n")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
