#!/usr/bin/env python3
"""Receipt-pipeline benchmark.

    python3 perfbench/run.py --workload ingest_scans --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and
the harness (perfbench/build.sbt, a source dependency on ../build.sbt)
and caches the classpath under perfbench/target; later runs rebuild only
when a source file changed.

Each run generates its inputs from --seed in one JVM, then runs the
workload in a second, fresh JVM (each `graft watch` invocation is a fresh
process) for --seconds of measured work. In an untraced run both JVMs
first set up the engine's session; set-up time runs from process launch
to the JVM's READY line, and `setup_s` is the median of the two. With
--trace 1 the run times the same work untraced and traced and reports
the per-layer metrics.

The last stdout line is the result: {"correct", "attempted", "failed",
"metrics"}, with every metric's value and unit. Units and directions
come from BENCHMARK.json at the checkout root. perfbench/README.md
describes the workloads and metrics.
"""
import argparse
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
TARGET = HERE / "target"

CORES = 4
# ingest_scans: distinct megapixel scans per seed (+10% re-scans, 4 broken)
INGEST_DISTINCT = 40
# watch_receipts: open-loop release rate, about half of what the
# pipeline sustains on this input (see README.md)
WATCH_RATE = 25.0
# every JVM of a run must have ended this long after the build finished
RUN_TIMEOUT_S = 170

# build.sbt's forked-JVM options (JDK 17 add-opens, code cache); the heap
# is capped lower than build.sbt's 8g default to keep the footprint small.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    "-Xmx3g",
    "-XX:ReservedCodeCacheSize=1g",
    "-XX:+UseCodeCacheFlushing",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def classpath():
    """Builds engine + harness if any source changed; returns the classpath."""
    stamp = source_stamp()
    cp_file, stamp_file = TARGET / "bench-classpath.txt", TARGET / "bench-stamp.txt"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text()
    print("perfbench: building (sbt)", file=sys.stderr)
    proc = subprocess.run(["sbt", "-batch", "-error", "export Runtime/fullClasspath"],
                          cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=850)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(proc.stdout[-3000:] + proc.stderr[-3000:])
        fail("build failed")
    TARGET.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    return lines[-1].strip()


class Jvm:
    """Launches benchmark JVMs in the run's work dir and collects their
    READY and RESULT lines; every process is waited for, and killed if the
    run's deadline passes."""

    def __init__(self, cp, work, args):
        self.cp, self.work, self.args = cp, work, args
        self.java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") \
            if os.environ.get("JAVA_HOME") else "java"
        self.launches = 0
        self.deadline = time.time() + RUN_TIMEOUT_S

    def run(self, mode, **opts):
        self.launches += 1
        log = self.work / f"jvm-{self.launches}-{mode}.log"
        cmd = [self.java, *JVM_FLAGS, f"-Djava.io.tmpdir={self.work / 'tmp'}",
               "-cp", self.cp, "perfbench.Main", "--mode", mode,
               "--workload", self.args.workload, "--seed", str(self.args.seed),
               "--dir", str(self.work), "--cores", str(CORES)]
        for k, v in opts.items():
            cmd += [f"--{k}", str(v)]
        ready, result = None, None
        with open(log, "w") as err:
            launched = time.time()
            proc = subprocess.Popen(cmd, cwd=self.work, stdout=subprocess.PIPE,
                                    stderr=err, text=True)
            watchdog = threading.Timer(max(1.0, self.deadline - launched), proc.kill)
            watchdog.start()
            try:
                for line in proc.stdout:
                    if line.startswith("READY "):
                        ready = int(line.split()[1]) / 1e6 - launched
                    elif line.startswith("RESULT "):
                        result = json.loads(line[len("RESULT "):])
                proc.wait()
            finally:
                watchdog.cancel()
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if proc.returncode != 0 or (opts.get("setup", 1) and ready is None) \
                or (mode == "pass" and result is None):
            text = log.read_text()
            errors = [l for l in text.splitlines()
                      if "Exception" in l or "Error" in l or l.startswith("[check]")]
            sys.stderr.write("\n".join(errors[:20]) + "\n" + text[-2000:])
            fail(f"{mode} JVM failed (exit {proc.returncode})")
        return ready, result


def workload_opts(args):
    if args.workload == "ingest_scans":
        return {"distinct": INGEST_DISTINCT, "seconds": args.seconds}
    return {"rate": WATCH_RATE, "window": args.seconds}


def p99(xs):
    return statistics.quantiles(xs, n=100)[98] if len(xs) >= 2 else xs[0]


def timed_run(jvm, opts, gen_setup):
    ready, res = jvm.run("pass", trace=0, **opts, **{"pass": 0})
    setups = [gen_setup, ready]
    lat = res["latencies_s"]
    metrics = {
        "setup_s": statistics.median(setups),
        "receipts_per_s": res["receipts_per_s"],
        "latency_p50_s": statistics.median(lat),
        "latency_p99_s": p99(lat),
    }
    print(f"perfbench: {len(lat)} latency samples, set-ups {setups}, "
          f"generator late p99 {res['gen_late_p99_s']:.4f} s, "
          f"peak RSS {res['rss_mb']:.0f} MB", file=sys.stderr)
    return [res], metrics


def traced_run(jvm, args, opts):
    """ingest_scans times untraced, traced and untraced drains in the traced
    JVM; watch_receipts needs a whole untraced pass in its own JVM."""
    passes = []
    if args.workload == "watch_receipts":
        passes.append(jvm.run("pass", trace=0, **opts, **{"pass": 0})[1])
    spans = TARGET / "trace" / f"{args.workload}-seed{args.seed}-spans.jsonl"
    _, traced = jvm.run("pass", trace=1, spans=spans, **opts, **{"pass": 1})
    passes.append(traced)
    layers = dict(traced["layers"])
    layers["trace.untraced_s"] = passes[0]["work_s"]
    layers["trace.overhead_s"] = traced["traced_s"] - passes[0]["work_s"]
    print(f"perfbench: spans written to {spans.relative_to(ROOT)}", file=sys.stderr)
    return passes, layers


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["ingest_scans", "watch_receipts"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM (Jvm.run's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spec_file = ROOT / "BENCHMARK.json"
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir() \
            or not spec_file.is_file():
        fail("run from a checkout of the engine (build.sbt, src/main, BENCHMARK.json)")
    spec = json.loads(spec_file.read_text())
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    cp = classpath()
    work = TARGET / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        jvm = Jvm(cp, work, args)
        opts = workload_opts(args)
        # the generator's set-up is a set-up sample; traced runs need none
        gen_setup, _ = jvm.run("gen", setup=1 - args.trace, **opts)
        passes, values = traced_run(jvm, args, opts) if args.trace \
            else timed_run(jvm, opts, gen_setup)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        fail(f"metrics not measured: {missing}")
    attempted = sum(p["attempted"] for p in passes)
    failed = sum(p["failed"] for p in passes)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    for name, m in metrics.items():
        print(f"  {name:28s} {m['value']:>16.6g} {m['unit']}", file=sys.stderr)
    print(f"  failed_ratio {failed}/{attempted}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
