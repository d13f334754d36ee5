#!/usr/bin/env python3
"""The graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (offline) and caches the classpath under
perfbench/.build; later runs rebuild only when a source file changed.

Each run gets its own scratch directory for java.io.tmpdir,
spark.local.dir and the warehouse, deleted at exit. The JVM sets the
session up, then runs one cold pass and the warm passes from one client
thread, checks every result against perfbench/expected.tsv and reports the
metrics BENCHMARK.json names, with their units from there:

  --trace 0  the end-to-end metrics, with no listener attached;
  --trace 1  the per-layer metrics, from Spark listener events and the
             spans the harness records at its own boundaries.

Times of set-up and passes are process CPU seconds: on a shared host that
steals CPU, wall times of the same code spread too far between runs to gate
a change. The wall times are in the run record.

The last line of stdout is one JSON object with the keys correct,
attempted, failed and metrics. A record of the run with its host context
(nproc, load1, steal, commit, JVM flags) and, when traced, its spans is
written under perfbench/out/runs for perfbench/report.py.

    python3 perfbench/run.py --workload batch --selfcheck

runs the workload with one expected digest corrupted and exits 0 only if the
mismatch is caught.

    python3 perfbench/run.py --workload batch --record VERIFY_DUMP

prints each operation's digest twice over and, for batch queries, the digest
of the same query's result in a graft.Verify dump of perfbench/data/sf0.01,
with "ok" where all agree. perfbench/expected.tsv holds the "ok" digests,
from a dump that tools/check.py passed against DuckDB for every oracled
query; for the stream it holds the emitted and state row counts, which do
not depend on where the micro-batches split.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = BENCH / ".build"
RUNS = BENCH / "out" / "runs"
DATA = BENCH / "data" / "sf0.01"
EXPECTED = BENCH / "expected.tsv"
SPEC = ROOT / "BENCHMARK.json"
HEAP = "2g"
JVM_TIMEOUT_S = 170

# JDK 17 needs these when Spark starts outside spark-submit; the list is
# org.apache.spark.launcher.JavaModuleOptions, as in the root build.
OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_files():
    roots = [ROOT / "src" / "main", BENCH / "src"]
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def build():
    """Compile graft and the harness; return the java argument file."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        die(f"no graft sources (build.sbt, src/main) in {ROOT}")
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    stamp = h.hexdigest()
    argfile = BUILD / "classpath.args"
    if (BUILD / "stamp").is_file() and (BUILD / "stamp").read_text() == stamp \
            and argfile.is_file():
        return argfile, stamp
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={Path.home() / '.sbt' / 'repositories'}",
        "-Dsbt.offline=true", "-Xmx2g"]))
    log = BUILD / "sbt.log"
    with open(log, "w") as lf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=lf, text=True,
            timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[" in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die(f"build failed (exit {p.returncode}); log in {log}")
    argfile.write_text("-cp\n" + lines[-1].strip() + "\n")
    (BUILD / "stamp").write_text(stamp)
    return argfile, stamp


def proc_stat():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return (v[7] if len(v) > 7 else 0), sum(v)


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class HostSampler:
    """load1 at start and its maximum, steal % over the run."""

    def __init__(self):
        self.start = self.max = load1()
        self.steal0 = proc_stat()
        self.stop = threading.Event()
        self.t = threading.Thread(target=self._loop, daemon=True)
        self.t.start()

    def _loop(self):
        while not self.stop.wait(0.5):
            self.max = max(self.max, load1())

    def finish(self):
        self.stop.set()
        self.t.join()
        s1, t1 = proc_stat()
        s0, t0 = self.steal0
        return {"load1_start": self.start, "load1_max": self.max,
                "steal_pct": 100.0 * (s1 - s0) / (t1 - t0) if t1 > t0 else 0.0}


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except OSError:
        return None


def jvm(argfile, scratch, cores, log, **args):
    """Run the harness JVM once; return its result and the result file."""
    (scratch / "tmp").mkdir(parents=True, exist_ok=True)
    out = scratch / f"result-{args['mode']}-{time.monotonic_ns()}.json"
    cmd = (["java"] + [a for p in OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           [f"-Xmx{HEAP}", "-XX:+UseParallelGC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={scratch / 'tmp'}",
            f"-Dspark.hadoop.hadoop.tmp.dir={scratch / 'tmp' / 'hadoop'}",
            f"@{argfile}", "perfbench.Main",
            "--data", str(DATA), "--scratch", str(scratch), "--cores", str(cores),
            "--out", str(out)] +
           [x for k, v in args.items() if v is not None for x in (f"--{k}", str(v))])
    with open(log, "a") as lf:
        p = subprocess.Popen(cmd, cwd=scratch, stdout=lf, stderr=lf)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not out.is_file():
        sys.stderr.write(log.read_text()[-4000:])
        die(f"harness JVM failed ({rc}) in mode {args['mode']}")
    return json.loads(out.read_text()), out


def main():
    # A terminated run still stops its JVM and deletes its scratch directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not SPEC.is_file():
        die(f"missing {SPEC}")
    spec = json.loads(SPEC.read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    ap.add_argument("--record", metavar="VERIFY_DUMP", nargs="?", const="",
                    help="print each operation's digest instead of measuring; "
                         "compare with a graft.Verify dump when given")
    a = ap.parse_args()

    argfile, stamp = build()
    if not EXPECTED.is_file():
        die(f"missing {EXPECTED}")
    cores = len(os.sched_getaffinity(0))
    scratch = BENCH / ".run" / f"{a.workload}-{os.getpid()}-{time.time_ns()}"
    scratch.mkdir(parents=True)
    log = scratch / "jvm.log"
    try:
        if a.record is not None:
            _, out = jvm(argfile, scratch, cores, log, mode="record", workload=a.workload,
                         **({"verify-dump": a.record} if a.record else {}))
            sys.stdout.write(Path(str(out) + ".tsv").read_text())
            return
        host = HostSampler()
        corrupt = None
        if a.selfcheck:
            corrupt = next(l.split("\t")[0] for l in EXPECTED.read_text().splitlines()
                           if l.startswith("stream:" if a.workload == "stream" else "q_"))
        r, _ = jvm(argfile, scratch, cores, log, mode="run", workload=a.workload,
                   seed=a.seed, seconds=a.seconds, trace=a.trace,
                   expected=EXPECTED, corrupt=corrupt)
        ctx = host.finish()
    finally:
        spans = next(scratch.glob("*.spans.json"), None)
        spans_text = spans.read_text() if spans else None
        shutil.rmtree(scratch, ignore_errors=True)

    if a.selfcheck:
        caught = r["failed"] >= 1 and any(f.startswith(corrupt) for f in r["failures"])
        print(f"selfcheck: corrupted expected digest of {corrupt} "
              f"{'caught' if caught else 'NOT caught'} ({r['failed']} of {r['attempted']} failed)")
        sys.exit(0 if caught else 1)

    if a.trace:
        values = {**r["layers"], "tables.fill_s": r["tables.fill_s"],
                  "tables.cached_mb": r["tables.cached_mb"]}
    else:
        values = r
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in spec["per_layer" if a.trace else "end_to_end"]}
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "host": {"nproc": os.cpu_count(), "cores": cores, "master": f"local[{cores}]",
                 **ctx, "commit": git_commit(), "source_stamp": stamp,
                 "jvm_args": r.get("jvm_args"), "spark": r.get("spark_version")},
        "metrics": metrics, "layers": r.get("layers"),
        "harness": {k: v for k, v in r.items() if k not in ("layers", "jvm_args")},
    }
    RUNS.mkdir(parents=True, exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}-{time.time_ns()}"
    (RUNS / f"{name}.json").write_text(json.dumps(record, indent=1))
    if spans_text is not None:
        (RUNS / f"{name}.spans.json").write_text(spans_text)
    print(json.dumps({"correct": r["failed"] == 0 and r["attempted"] >= 1,
                      "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
