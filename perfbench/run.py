"""The repository benchmark: builds graft and the benchmark program from
source, runs one workload in one JVM at local[nproc], checks its outputs
and prints its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: wc-latency, table-dml and query-suite (listed in
BENCHMARK.json), and wc-throughput, which every traced run also measures.
With --trace 0 the last stdout line holds the end-to-end metrics; with
--trace 1 one traced run covers every workload (plus wc-throughput on a
single core) and the last line holds the per-layer metrics, which are
also written, tagged and with per-layer self times, to
.bench_build/perfbench/trace/. Exit status is non-zero when the build or
the run fails or a correctness check does not hold."""

import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import reduce  # noqa: E402

SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("wc-latency", "wc-throughput", "table-dml", "query-suite")
KEEP_BUILDS = 2  # class trees kept, so alternating two source states reuses both
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
TIMEOUT_S = 170


def log(msg):
    print(msg, flush=True)


def machine():
    with open("/proc/loadavg") as f:
        load = " ".join(f.read().split()[:3])
    return "nproc %d loadavg %s" % (os.cpu_count() or 1, load)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return main, bench


def scalac(srcs, out, classpath):
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*") + classpath,
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out] + srcs
    subprocess.run(cmd, check=True, stdout=sys.stderr, timeout=800)


def build():
    """compiles src/main/scala and the benchmark program once per source
    state; returns the runtime classpath"""
    main, bench = sources()
    if not main or not os.path.isdir(os.path.join(ROOT, "src/main/resources")):
        raise SystemExit("perfbench: no graft sources under %s/src/main" % ROOT)
    if not glob.glob(os.path.join(SPARK_JARS, "scala-compiler-*.jar")):
        raise SystemExit("perfbench: no Spark/Scala jars under $SPARK_HOME/jars (%s)" % SPARK_JARS)
    h = hashlib.sha256()
    for p in main + bench:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()[:16]
    classes = os.path.join(OUT, "classes-" + stamp)
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.isdir(os.path.join(classes, "done")):
            shutil.rmtree(classes, ignore_errors=True)
            olds = sorted(glob.glob(os.path.join(OUT, "classes-*")), key=os.path.getmtime)
            for old in olds[:max(0, len(olds) - (KEEP_BUILDS - 1))]:
                shutil.rmtree(old)
            t = time.time()
            scalac(main, os.path.join(classes, "main"), "")
            scalac(bench, os.path.join(classes, "bench"), ":" + os.path.join(classes, "main"))
            os.makedirs(os.path.join(classes, "done"))
            log("build %.1f s" % (time.time() - t))
        os.utime(classes)  # marks it most recently used
    return ":".join([os.path.join(classes, "bench"), os.path.join(classes, "main"),
                     os.path.join(ROOT, "src/main/resources"), os.path.join(SPARK_JARS, "*")])


def run_jvm(classpath, args, work):
    """runs the benchmark program; returns its raw result"""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    raw_path = os.path.join(work, "raw.json")
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xmx3g", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "graft.perfbench.Main",
        "--out", raw_path, "--work", work,
        "--t0-ms", str(int(time.time() * 1000)), "--cores", str(os.cpu_count() or 1)] + args
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("perfbench: benchmark program timed out; log in %s" % jlog.name)
    if rc != 0 or not os.path.exists(raw_path):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit("perfbench: benchmark program failed (exit %d); log in %s" % (rc, jlog.name))
    with open(raw_path) as f:
        return json.load(f)


def check_queries(r):
    """compares the query-suite results the JVM wrote with DuckDB running
    each query's oracle SQL over the same tables, through dev/compare.py"""
    o = r["oracle"]
    proc = subprocess.run([sys.executable, os.path.join(ROOT, "dev", "compare.py"), o["results"],
                           o["tables"], ",".join(o["queries"])],
                          capture_output=True, text=True, timeout=120)
    passed = [l.split()[1] for l in proc.stdout.splitlines() if l.startswith("PASS")]
    mismatched = [q for q in o["queries"] if q not in passed]
    for line in proc.stdout.splitlines() + proc.stderr.splitlines()[-5:]:
        if not line.startswith("PASS"):
            log("oracle: " + line)
    r["check"]["oracle_pass"] = len(passed)
    r["check"]["oracle_mismatches"] = mismatched
    if mismatched or proc.returncode != 0:
        r["correct"] = False
        r["failed"] += max(1, len(mismatched))


def fmt(v):
    return "n/a" if v is None else ("%.4f" % v if isinstance(v, float) else str(v))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    log("start %s" % machine())
    classpath = build()
    work = os.path.join(OUT, "runs", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    raw = run_jvm(classpath, ["--workload", a.workload, "--seed", str(a.seed),
                              "--seconds", str(a.seconds), "--trace", str(a.trace)], work)
    if "query-suite" in raw["workloads"]:
        check_queries(raw["workloads"]["query-suite"])
    shutil.rmtree(work, ignore_errors=True)
    last = os.path.join(OUT, "last")
    os.makedirs(last, exist_ok=True)
    with open(os.path.join(last, "raw-%s-%d.json" % ("trace" if a.trace else a.workload, a.seed)), "w") as f:
        json.dump(raw, f)

    names = WORKLOADS if a.trace else (a.workload,)
    results = {wl: raw["workloads"][wl] for wl in names}
    correct = all(r["correct"] for r in results.values())
    attempted = sum(r["attempted"] for r in results.values())
    failed = sum(r["failed"] for r in results.values())
    for wl, r in results.items():
        log("check %s %s %s" % (wl, "ok" if r["correct"] else "FAILED", json.dumps(r["check"])))
        for name, (v, unit) in reduce.named(wl, raw).items():
            log("metric %s %s %s %s" % (wl, name, fmt(v), unit))
    e2e = {wl: reduce.end_to_end(wl, raw) for wl in names}

    if not a.trace:
        metrics = e2e[a.workload]
        with open(os.path.join(last, a.workload + ".json"), "w") as f:
            json.dump({k: v for k, (v, _) in metrics.items()}, f)
    else:
        layers = reduce.per_layer(raw)
        metrics = {n: (v, unit) for n, v, unit, _, _, _ in layers if n not in reduce.SIDECAR_ONLY}
        overhead = {}
        for wl in names:
            p = os.path.join(last, wl + ".json")
            if os.path.exists(p):
                with open(p) as f:
                    untraced = json.load(f)
                # setup_s is left out: the traced run sets up once, cold
                overhead[wl] = {k: v - untraced[k] for k, (v, _) in e2e[wl].items()
                                if k != "setup_s" and v is not None and untraced.get(k) is not None}
        self_ms = reduce.trace_self_times(raw)
        tdir = os.path.join(OUT, "trace")
        os.makedirs(tdir, exist_ok=True)
        side = os.path.join(tdir, "layers-seed%d.json" % a.seed)
        with open(side, "w") as f:
            json.dump({
                "metrics": [{"name": n, "value": v, "unit": u, "layer": l, "moves": m, "workload": w}
                            for n, v, u, l, m, w in layers],
                "self_time_ms": self_ms,
                "traced_end_to_end": {wl: {k: v for k, (v, _) in m.items()} for wl, m in e2e.items()},
                "tracing_overhead": overhead,
                "spans": raw["spans"]}, f, indent=1)
        for layer, ms in sorted(self_ms.items()):
            log("self %s %.1f ms" % (layer, ms))
        for wl, d in overhead.items():
            log("overhead %s %s" % (wl, json.dumps(d)))
        log("trace written to %s" % os.path.relpath(side, ROOT))

    missing = [n for n, (v, _) in metrics.items() if v is None]
    if missing:
        log("metrics not measured: %s" % ", ".join(missing))
        correct = False
        failed += 1
    log("end %s" % machine())
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()
                                  if v is not None}}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
