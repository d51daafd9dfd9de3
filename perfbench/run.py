#!/usr/bin/env python3
"""graft benchmark: one command per workload run.

  python3 perfbench/run.py --workload lake|analytics --seed N \
      [--seconds S] [--trace 0|1] [--results DIR]

Run from the repository root. The first run builds the program and the
harness from source with sbt (offline); later runs reuse the build while
no source file has changed. Each run works in a fresh temporary
directory under perfbench/.work, removed at the end, and writes its full
report (and, traced, its span file) to --results (default
perfbench/out). The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"} with the end-to-end
metrics of BENCHMARK.json (--trace 0) or its per-layer metrics
(--trace 1).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

sys.dont_write_bytecode = True  # keep the checkout clean
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
HARNESS = HERE / "harness"
LAUNCHER = HARNESS / "target" / "launcher.txt"
STAMP = HARNESS / "target" / "launcher.stamp"
HEAP = "4g"
TABLE_SEED = 42  # fixed: the expected query digests belong to these tables
TABLE_SCALE = 0.01
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170


def fail(msg, code=2):
    print(f"run.py: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Content hash of everything the build reads."""
    files = [ROOT / "build.sbt"]
    for base in (ROOT / "src" / "main", ROOT / "project", HARNESS / "src", HARNESS / "project"):
        if base.is_dir():
            files += [p for p in base.rglob("*") if p.is_file() and "target" not in p.relative_to(base).parts]
    files.append(HARNESS / "build.sbt")
    h = hashlib.sha256()
    for p in sorted(files):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if LAUNCHER.exists() and STAMP.exists() and STAMP.read_text() == stamp:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = HERE / ".work" / "build.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as out:
        code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "launcher"], HARNESS, env, out, BUILD_TIMEOUT_S)
    if code != 0 or not LAUNCHER.exists():
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"build failed (exit {code})", 3)
    STAMP.write_text(stamp)


def cpu_times():
    """(steal, total) CPU jiffies since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


_child = None


def run_child(cmd, cwd, env, out, timeout):
    """Runs cmd; on timeout or a signal the child is killed and reaped."""
    global _child
    _child = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return _child.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return -1
    finally:
        if _child.poll() is None:
            os.killpg(_child.pid, signal.SIGKILL)
            _child.wait()
        _child = None


def on_signal(signum, _frame):
    raise KeyboardInterrupt(f"signal {signum}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--results", default=str(HERE / "out"))
    ap.add_argument("--dump", help="analytics: also write each query's result as parquet here")
    a = ap.parse_args()

    bench = json.loads((ROOT / "BENCHMARK.json").read_text()) if (ROOT / "BENCHMARK.json").exists() else None
    if bench is None or not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("run from a checkout of the graft repository (BENCHMARK.json, build.sbt and src/ are needed)")
    if a.workload not in [w["name"] for w in bench["workloads"]]:
        fail(f"unknown workload {a.workload}")
    signal.signal(signal.SIGTERM, on_signal)

    build()
    lines = LAUNCHER.read_text().splitlines()
    classpath, jvm_opts = lines[0], [l for l in lines[1:] if l]
    nproc = len(os.sched_getaffinity(0))
    results = Path(a.results)
    results.mkdir(parents=True, exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    (HERE / ".work").mkdir(exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix=f"{tag}-", dir=HERE / ".work"))
    try:
        extra = []
        gen_s = 0.0
        if a.workload == "analytics":
            t0 = time.monotonic()
            sys.path.insert(0, str(HERE))
            import gen_tables
            errors = gen_tables.self_test(tmp_root=work)
            gen_tables.write(str(work / "tables"), TABLE_SEED, TABLE_SCALE)
            gen_s = time.monotonic() - t0
            if errors:
                fail("table generator self-test: " + "; ".join(errors), 4)
            extra = ["--tables", str(work / "tables"), "--digests", str(HERE / "expected_digests.json")]
        for d in ("tmp", "spark-local"):
            (work / d).mkdir()
        cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", *jvm_opts,
               f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dspark.local.dir={work / 'spark-local'}",
               f"-Dspark.sql.warehouse.dir={work / 'warehouse'}", f"-Dderby.system.home={work}",
               "-cp", classpath, "graftbench.Main",
               "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
               "--trace", str(a.trace), "--work", str(work), "--nproc", str(nproc),
               "--out", str(work / "report.json"), *extra]
        if a.dump:
            cmd += ["--dump", str(Path(a.dump).resolve())]
        if a.trace:
            cmd += ["--spans", str(results / f"{tag}.spans.jsonl")]
        steal0, total0 = cpu_times()
        with open(work / "jvm.log", "w") as out:
            code = run_child(cmd, work, os.environ.copy(), out, RUN_TIMEOUT_S)
        steal1, total1 = cpu_times()
        report_path = work / "report.json"
        if code != 0 or not report_path.exists():
            sys.stderr.write((work / "jvm.log").read_text()[-4000:])
            fail(f"benchmark JVM failed (exit {code})", 5)
        report = json.loads(report_path.read_text())
        metrics = report["metrics"]
        if "setup_s" in metrics:
            metrics["setup_s"]["value"] += gen_s
        # CPU time the hypervisor gave to other guests: a slow run on a
        # shared host shows here
        report["info"].update(heap=HEAP, nproc=nproc, table_generation_s=gen_s,
                              host_steal_share=(steal1 - steal0) / max(1, total1 - total0))
        (results / f"{tag}.json").write_text(json.dumps(report, indent=1))

        for k, v in metrics.items():
            value = "n/a" if v["value"] is None else f"{v['value']:.6g}"
            print(f"{k:42s} {value:>14} {v['unit']}")
        for f in report["failures"]:
            print(f"FAILED: {f}")
        print(f"input/setup facts and all metrics: {results / (tag + '.json')}")

        wanted = bench["per_layer" if a.trace else "end_to_end"]
        missing = [m["name"] for m in wanted if m["name"] not in metrics]
        if missing:
            fail(f"run did not produce {missing}; failures: {report['failures'][:5]}", 6)
        print(json.dumps({
            "correct": report["failed"] == 0,
            "attempted": report["attempted"],
            "failed": report["failed"],
            "metrics": {m["name"]: {"value": metrics[m["name"]]["value"], "unit": m["unit"]} for m in wanted},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
