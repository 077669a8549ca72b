#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload lakehouse|curate \\
        --seed N --seconds S --trace 0|1 [--size full|tiny]

Run from the root of a checkout. The first run builds graft's sources
together with the benchmark (sbt, offline) into `.bench_build/`; later runs
reuse the build while the sources are unchanged. Each run generates its
seeded inputs under `.bench_build/work/<workload>-seed<N>/`, runs the
workload in one JVM at `local[n]` (n = cores), checks the outputs (in the
JVM, then in DuckDB), and prints:

  * a `fingerprint` line: the host and build the numbers belong to;
  * one `metric <name> <value> <unit>` line per metric;
  * as the last line, one JSON object with `correct`, `attempted`,
    `failed` and `metrics`: the end-to-end metrics with `--trace 0`, the
    per-layer metrics with `--trace 1`.

The full record (fingerprint, both metric sets, failures) is kept in
`.bench_build/results/`, and a traced run's spans beside it; compare.py
reads them. BENCHMARK.json lists the metrics; METRICS.md says what each
one means and which end-to-end metric each per-layer metric should move.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
SOURCES = ROOT / "src" / "main" / "scala"
WORKLOADS = ("curate", "lakehouse")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 165
JVM_HEAP = "-Xmx3g"
# Spark on JDK 17 outside spark-submit needs these module openings
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_process(cmd, log_path, timeout, cwd=None, env=None):
    """Run `cmd` in its own process group with output to `log_path`; on
    timeout kill the whole group. Always waits for it to end."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return -1
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def source_digest():
    """sha256 over the program's and the benchmark's build inputs."""
    files = sorted(SOURCES.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    return h.hexdigest()


def build(digest):
    """Compile graft plus the benchmark once per source digest; return the
    runtime classpath."""
    cp_file, stamp = BUILD / "classpath.txt", BUILD / "classpath.digest"
    if cp_file.exists() and stamp.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = BUILD / "build.log"
    rc = run_process(["sbt", "--batch", "-Dsbt.offline=true", "-Dsbt.log.noformat=true",
                      "export Runtime/fullClasspath"],
                     log, BUILD_TIMEOUT_S, cwd=HERE, env=env)
    lines = [l.strip() for l in log.read_text().splitlines() if l.strip()]
    cp = next((l for l in reversed(lines) if not l.startswith("[") and ".jar" in l), None)
    if rc != 0 or cp is None:
        fail(f"build failed (exit {rc}); see {log}")
    cp_file.write_text(cp)
    stamp.write_text(digest)
    return cp


def git_sha():
    try:
        out = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def mem_total_mb():
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // 1024
    except OSError:
        pass
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--size", default="full", choices=("full", "tiny"))
    args = ap.parse_args()

    spec_path = ROOT / "BENCHMARK.json"
    if not SOURCES.is_dir() or not spec_path.is_file():
        fail(f"no graft sources at {SOURCES} or no {spec_path.name}: run from a checkout of the repo")
    import checks  # needs the repo's scripts/, so only inside a checkout
    spec = json.loads(spec_path.read_text())
    digest = source_digest()
    cp = build(digest)
    java = shutil.which("java") or os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")

    name = f"{args.workload}-seed{args.seed}"
    work = BUILD / "work" / name
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = [java, JVM_HEAP, "-XX:-UsePerfData", *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dderby.stream.error.file={work / 'derby.log'}",
           f"-Dspark.hadoop.hadoop.tmp.dir={work / 'tmp'}", "-Dspark.ui.enabled=false",
           "-cp", cp, "graft.perfbench.Main", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", str(work), "--data", str(HERE / "data"), "--size", args.size]
    logs = BUILD / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    log = logs / f"{args.workload}.log"
    t0 = time.time()
    # Spark would put shuffle files under SPARK_LOCAL_DIRS instead of the
    # run's own spark.local.dir
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    rc = run_process(cmd, log, RUN_TIMEOUT_S, cwd=ROOT, env=env)
    result_file = work / "result.json"
    if rc != 0 or not result_file.exists():
        tail = "\n".join(log.read_text(errors="replace").splitlines()[-30:])
        fail(f"{args.workload} run failed (exit {rc}); last log lines:\n{tail}", code=1)
    res = json.loads(result_file.read_text())

    jvm_s = time.time() - t0
    failures = list(res["failures"])
    failed = res["failed"]
    for wl, inputs in res["duck_checks"].items():
        try:
            extra = checks.CHECKS[wl](inputs)
        except Exception as e:  # noqa: BLE001 - a check that cannot run is a failed check
            extra = [f"{wl} check error: {type(e).__name__}: {e}"]
        failures += extra
        failed += len(extra)
    if args.workload not in res["duck_checks"]:
        failures.append(f"{args.workload}: no output reached the DuckDB checks")
        failed += 1
    attempted = res["attempted"]
    failed = min(failed, attempted)

    host = res["host"]
    fingerprint = {
        "nproc": os.cpu_count(), "cores": host["cores"], "master": host["master"],
        "mem_total_mb": mem_total_mb(), "max_heap_mb": host["max_heap_mb"], "jdk": host["jdk"],
        "spark": host["spark"], "git_sha": git_sha(), "source_digest": digest,
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size,
    }
    # every listed metric is printed. A per-layer metric of another
    # workload's layer reads 0: that layer did no work in this run. One of
    # this run's own workload or of `spark.` that the JVM did not produce,
    # or produced in another unit, is a failure.
    others = tuple(f"{w}." for w in WORKLOADS if w != args.workload)
    e2e = {m["name"]: res["e2e"].get(m["name"]) for m in spec["end_to_end"]}
    layers = {m["name"]: res["layers"].get(m["name"]) or
              ({"value": 0.0, "unit": m["unit"]} if m["name"].startswith(others) else None)
              for m in spec["per_layer"]}
    listed = spec["per_layer"] if args.trace else spec["end_to_end"]
    shown = layers if args.trace else e2e
    missing = [m["name"] for m in listed if shown[m["name"]] is None]
    if missing:
        failures.append(f"metrics not produced: {missing}")
    wrong_unit = [m["name"] for m in listed
                  if shown[m["name"]] is not None and shown[m["name"]]["unit"] != m["unit"]]
    if wrong_unit:
        failures.append(f"metrics in another unit than BENCHMARK.json lists: {wrong_unit}")
    metrics = {k: v for k, v in shown.items() if v is not None}

    record = {"fingerprint": fingerprint, "e2e": res["e2e"], "layers": res["layers"],
              "setup_samples_s": res["setup_samples_s"], "samples": res["samples"],
              "attempted": attempted,
              "failed": failed, "failures": failures,
              "phases": {**res["phases"], "jvm_s": jvm_s, "wall_s": time.time() - t0}}
    results = BUILD / "results"
    results.mkdir(parents=True, exist_ok=True)
    stem = f"{name}-trace{args.trace}-{time.time_ns()}"
    (results / f"{stem}.json").write_text(json.dumps(record, indent=1, sort_keys=True))
    if (work / "spans.jsonl").exists():
        shutil.copy(work / "spans.jsonl", results / f"{stem}.spans.jsonl")
    shutil.rmtree(work, ignore_errors=True)

    print("fingerprint " + json.dumps(fingerprint, sort_keys=True))
    for f in failures:
        print(f"FAILED {f}")
    for k, v in metrics.items():
        print(f"metric {k} {v['value']} {v['unit']}")
    correct = failed == 0 and not failures
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
