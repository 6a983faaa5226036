"""Turns the JVM's raw result file into the benchmark's metrics.

`end_to_end(workload, raw)` gives the figures every untraced run prints;
`named(workload, raw)` the workload's own figures by their descriptive
names; `per_layer(raw)` the traced run's per-layer metrics, each tagged
with the end-to-end metric and workload it should move."""

import datetime
import json

import stats

WORDS_PER_SENTENCE = 100

# Per-layer figures that are zero by construction on this workload mix
# (reads write nothing; the ms-rate offset and INSERT analysis take well
# under a millisecond): kept in the trace file, left off the result line.
SIDECAR_ONLY = {"sources.latest_offset_ms_p50", "plans.insert.analysis_ms",
                "table.read.bytes_written", "table.read.files_added"}


def _ms(iso):
    t = datetime.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ")
    return t.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000.0


def _batches(w, run=None):
    """progress reports of the workload, oldest first, with start/end ms"""
    out = []
    for p in w["progress"]:
        if run is not None and p["run"] != run:
            continue
        j = json.loads(p["json"])
        if j.get("numInputRows", 0) <= 0:
            continue
        j["start_ms"] = _ms(j["timestamp"])
        j["end_ms"] = j["start_ms"] + j["durationMs"]["triggerExecution"]
        j["run"] = p["run"]
        out.append(j)
    return sorted(out, key=lambda j: j["batchId"])


def _words_per_s(batches):
    """words per second of batch execution, pooled over the batches"""
    busy_ms = sum(b["durationMs"]["triggerExecution"] for b in batches)
    return (sum(b["numInputRows"] for b in batches) * WORDS_PER_SENTENCE * 1000.0 / busy_ms
            if busy_ms else None)


# ---- wc-latency ----------------------------------------------------------

def _latency_window(w):
    p = w["params"]
    batches = [b for b in _batches(w, 1)
               if p["window_start_ms"] <= b["start_ms"] < p["window_end_ms"]]
    lats = [s[3] - s[2] for s in w["samples"]
            if s[0] == 1 and p["window_start_ms"] <= s[2] < p["window_end_ms"]]
    return batches, lats


def _first_arrivals(w):
    """one sample per stamped sentence: its first delivery"""
    first = {}
    for run, batch, emit, arrival in w["samples"]:
        if emit not in first or arrival < first[emit][3]:
            first[emit] = (run, batch, emit, arrival)
    return first.values()


def _recovery(w):
    p = w["params"]
    after = _batches(w, 2)
    _, lats = _latency_window(w)
    p99 = stats.percentile(lats, stats.tail_percentile(len(lats)) or 50.0)
    by_batch = {}
    for run, batch, emit, arrival in _first_arrivals(w):
        if run == 2:
            by_batch.setdefault((batch, arrival), []).append(arrival - emit)
    catch = stats.catchup_ms([(a, l) for (_, a), l in by_batch.items()], p99, p["restart_ms"])
    recovery_ms = after[0]["end_ms"] - p["restart_ms"] if after else None
    return after, recovery_ms, catch


def _latency_named(w):
    p = w["params"]
    batches, lats = _latency_window(w)
    tail = stats.tail_percentile(len(lats)) or 50.0
    commits = [(b["end_ms"], int(b["sources"][0]["endOffset"])) for b in _batches(w, 1)]

    def committed(t):
        return max([o for e, o in commits if e <= t], default=0)

    span_s = (p["window_end_ms"] - p["window_start_ms"]) / 1000.0
    delivered = (committed(p["window_end_ms"]) - committed(p["window_start_ms"])) \
        * WORDS_PER_SENTENCE / span_s
    _, recovery_ms, catch = _recovery(w)
    return {
        "latency_p50_ms": (stats.median(lats), "ms"),
        "latency_p%g_ms" % tail: (stats.percentile(lats, tail), "ms"),
        "latency_samples": (len(lats), "count"),
        "offered_words_per_s": (p["rate"] * WORDS_PER_SENTENCE, "1/s"),
        "delivered_words_per_s": (delivered, "1/s"),
        "recovery_s": (None if recovery_ms is None else recovery_ms / 1000.0, "s"),
        "catchup_s": (None if catch is None else catch / 1000.0, "s"),
        "backlog_growing": (stats.backlog_growing(
            stats.backlog_rows([(b["start_ms"], int(b["sources"][0]["startOffset"]))
                                for b in batches], p["start_ms"], p["rate"]),
            slack=p["rate"] * p["trigger_ms"] // 1000), "bool"),
    }


# ---- wc-throughput -------------------------------------------------------

def _steady(w):
    wc = w["window_counters"][0]
    return [b for b in _batches(w) if wc["first_batch"] < b["batchId"] <= wc["last_batch"]]


# ---- table-dml -----------------------------------------------------------

def _ok_ms(w, op=None):
    return [s["ms"] for s in w["statements"] if s["ok"] and (op is None or s["op"] == op)]


def _driver_gap_ms(s):
    """wall time of a statement or query not covered by any Spark job"""
    return s["end_ms"] - s["start_ms"] - stats.covered(s["jobs_ms"], s["start_ms"], s["end_ms"])


def _dml_named(w):
    out = {"latency_p50_ms": (stats.median(_ok_ms(w)), "ms")}
    for op in ("insert", "merge", "update", "delete", "read"):
        out["%s_p50_ms" % op] = (stats.median(_ok_ms(w, op)), "ms")
    writes = [m for op in ("insert", "merge", "update", "delete") for m in _ok_ms(w, op)]
    tail = stats.tail_percentile(len(writes)) or 50.0
    out["write_p%g_ms" % tail] = (stats.percentile(writes, tail), "ms")
    out["statements"] = (len(w["statements"]), "count")
    return out


# ---- query-suite ---------------------------------------------------------

def _query_ms(w, suite_only=False):
    """{query: median wall ms over the timed passes} of the queries that
    ran; with suite_only, of the bounded suite's queries alone"""
    by = {}
    for r in w["runs"]:
        if r["ok"] and (r["query"] in w["suite"] or not suite_only):
            by.setdefault(r["query"], []).append(r["ms"])
    return {q: stats.median(ms) for q, ms in by.items()}


def _suite_named(w):
    med = _query_ms(w)
    out = {"suite_s": (sum(_query_ms(w, True).values()) / 1000.0, "s"),
           "passes": (w["passes"], "count")}
    for q, ms in sorted(med.items()):
        out["%s_s" % q.split("_")[0]] = (ms / 1000.0, "s")
    return out


# ---- shared --------------------------------------------------------------

def end_to_end(workload, raw):
    """{name: (value, unit)} of the benchmark's end-to-end metrics"""
    w = raw["workloads"][workload]
    if workload == "wc-latency":
        batches, lats = _latency_window(w)
        latency, work = stats.median(lats), _words_per_s(batches)
    elif workload == "wc-throughput":
        steady = _steady(w)
        latency = stats.median([b["durationMs"]["triggerExecution"] for b in steady])
        work = _words_per_s(steady)
    elif workload == "table-dml":
        # a round mixes ~0.3 s reads with ~3 s MERGEs: the median of the
        # mix falls between kinds and jumps, the geometric mean does not
        ms = _ok_ms(w)
        latency, work = stats.geomean(ms), len(ms) * 1000.0 / max(1e-9, sum(ms))
    else:
        # each query counts once in the geometric mean of the per-query
        # medians; queries per second weighs them by their cost
        ms = [r["ms"] for r in w["runs"] if r["ok"] and r["query"] in w["suite"]]
        latency = stats.geomean(list(_query_ms(w, True).values()))
        work = len(ms) * 1000.0 / max(1e-9, sum(ms))
    return {"setup_s": (raw["setup_s"], "s"),
            "latency_ms": (latency, "ms"),
            "work_per_s": (work, "1/s")}


def named(workload, raw):
    """the workload's own figures under their descriptive names"""
    w = raw["workloads"][workload]
    out = {"wc-latency": _latency_named,
           "wc-throughput": lambda w: {"words_per_s": (_words_per_s(_steady(w)), "1/s")},
           "table-dml": _dml_named,
           "query-suite": _suite_named}[workload](w)
    out["error_rate"] = (w["failed"] / max(1, w["attempted"]), "ratio")
    return out


def _state(batches, key):
    return stats.median([b["stateOperators"][0][key] for b in batches])


def per_layer(raw):
    """[(name, value, unit, layer, moves, workload)] from a traced run"""
    lat = raw["workloads"]["wc-latency"]
    thr = raw["workloads"]["wc-throughput"]
    dml = raw["workloads"]["table-dml"]
    out = []

    def add(name, value, unit, moves, workload):
        out.append((name, value, unit, name.split(".")[0], moves, workload))

    # sources and the trigger, on the open loop
    batches, _ = _latency_window(lat)
    ms = {b["batchId"]: b["start_ms"] for b in _batches(lat, 1)}
    waits = [ms[s[1]] - s[2] for s in lat["samples"] if s[0] == 1 and s[1] in ms
             and lat["params"]["window_start_ms"] <= s[2] < lat["params"]["window_end_ms"]]
    L50 = "latency_p50_ms"
    add("sources.latest_offset_ms_p50",
        stats.median([b["durationMs"].get("latestOffset", 0) for b in batches]), "ms", L50, "wc-latency")
    add("sources.pickup_wait_ms_p50", stats.median(waits), "ms", L50, "wc-latency")
    add("sources.rows_per_batch_p50", stats.median([b["numInputRows"] for b in batches]),
        "count", L50, "wc-latency")
    dur = [b["durationMs"] for b in batches]
    add("trigger.batch_ms_p50", stats.median([d["triggerExecution"] for d in dur]), "ms", L50, "wc-latency")
    add("trigger.batch_ms_p95", stats.percentile([d["triggerExecution"] for d in dur], 95), "ms",
        "latency_p99_ms", "wc-latency")
    add("trigger.planning_ms_p50", stats.median([d.get("queryPlanning", 0) for d in dur]), "ms", L50, "wc-latency")
    add("trigger.add_batch_ms_p50", stats.median([d.get("addBatch", 0) for d in dur]), "ms", L50, "wc-latency")
    add("trigger.wal_ms_p50", stats.median([d.get("walCommit", 0) for d in dur]), "ms", L50, "wc-latency")
    add("trigger.over_interval_batches",
        sum(1 for d in dur if d["triggerExecution"] > lat["params"]["trigger_ms"]), "count", L50, "wc-latency")
    steady = _steady(thr)
    sdur = [b["durationMs"] for b in steady]
    add("trigger.planning_ms_p50_thr", stats.median([d.get("queryPlanning", 0) for d in sdur]), "ms",
        "words_per_s", "wc-throughput")
    add("trigger.wal_ms_p50_thr", stats.median([d.get("walCommit", 0) for d in sdur]), "ms",
        "words_per_s", "wc-throughput")

    # the streaming data plane: throughput per core and per word
    words = sum(b["numInputRows"] for b in steady) * WORDS_PER_SENTENCE
    c = thr["window_counters"][0]["counters"]
    add("streaming.cpu_ms_per_mword", c["task_cpu_ms"] / max(1e-9, words / 1e6), "ms", "words_per_s", "wc-throughput")
    add("streaming.shuffle_bytes_per_word", c["shuffle_write_bytes"] / max(1, words), "bytes",
        "words_per_s", "wc-throughput")
    add("streaming.gc_share", c["gc_ms"] / max(1, c["task_run_ms"]), "ratio", "words_per_s", "wc-throughput")
    add("streaming.words_per_s_1core", _words_per_s(_steady(raw["wc-throughput-1core"])), "1/s",
        "words_per_s", "wc-throughput")
    lw = lat["window_counters"][0]
    nb = max(1, lw["last_batch"] - lw["first_batch"])
    add("streaming.jobs_per_batch", lw["counters"]["jobs"] / nb, "count", L50, "wc-latency")
    add("streaming.tasks_per_batch", lw["counters"]["tasks"] / nb, "count", L50, "wc-latency")
    window_ids = {b["batchId"] for b in batches}
    add("streaming.sink_ms_p50", stats.median([e - s for r, bid, s, e in lat["sink_batches"]
                                                if r == 1 and bid in window_ids]), "ms", L50, "wc-latency")

    # keyed state: HDFS on the open loop, RocksDB on the closed loop
    for backend, bs, wl, moves in (("hdfs", batches, "wc-latency", L50),
                                   ("rocksdb", steady, "wc-throughput", "words_per_s")):
        add("state.%s.commit_ms_p50" % backend, _state(bs, "commitTimeMs"), "ms", moves, wl)
        add("state.%s.update_ms_p50" % backend, _state(bs, "allUpdatesTimeMs"), "ms", moves, wl)
        add("state.%s.rows_total" % backend, bs[-1]["stateOperators"][0]["numRowsTotal"], "count", moves, wl)
        add("state.%s.rows_updated_p50" % backend, _state(bs, "numRowsUpdated"), "count", moves, wl)
        add("state.%s.memory_mb" % backend, bs[-1]["stateOperators"][0]["memoryUsedBytes"] / 1048576.0,
            "MB", moves, wl)

    # recovery after the mid-batch stop
    after, recovery_ms, catch = _recovery(lat)
    replay = after[0] if after else None
    steady_add = stats.median([d.get("addBatch", 0) for d in dur])
    k = lat["kill"]
    add("recovery.recovery_s", None if recovery_ms is None else recovery_ms / 1000.0, "s",
        "recovery_s", "wc-latency")
    add("recovery.catchup_s", None if catch is None else catch / 1000.0, "s", "catchup_s", "wc-latency")
    add("recovery.replay_batch_ms", replay and replay["durationMs"]["triggerExecution"], "ms",
        "recovery_s", "wc-latency")
    add("recovery.state_load_ms", replay and replay["durationMs"].get("addBatch", 0) - steady_add, "ms",
        "recovery_s", "wc-latency")
    add("recovery.replayed_sentences", replay and replay["numInputRows"], "count", "recovery_s", "wc-latency")
    add("recovery.backlog_sentences", k["due_at_restart"] - k["committed_at_kill"], "count",
        "catchup_s", "wc-latency")

    # the table format and its SQL plans, per statement class
    for op in ("insert", "merge", "update", "delete", "read"):
        st = [s for s in dml["statements"] if s["ok"] and s["op"] == op]

        def med(f):
            return stats.median([f(s) for s in st])
        moves = "%s_p50_ms" % op
        add("table.%s.jobs" % op, med(lambda s: s["counters"]["jobs"]), "count", moves, "table-dml")
        add("table.%s.planning_ms" % op, med(lambda s: s["counters"]["analysis_ms"]
                                             + s["counters"]["optimization_ms"]
                                             + s["counters"]["planning_ms"]), "ms", moves, "table-dml")
        add("plans.%s.analysis_ms" % op, med(lambda s: s["counters"]["analysis_ms"]), "ms", moves, "table-dml")
        add("table.%s.driver_gap_ms" % op, med(_driver_gap_ms), "ms", moves, "table-dml")
        add("table.%s.task_cpu_ms" % op, med(lambda s: s["counters"]["task_cpu_ms"]), "ms", moves, "table-dml")
        add("table.%s.bytes_written" % op, med(lambda s: s["bytes_written"]), "bytes", moves, "table-dml")
        add("table.%s.files_added" % op, med(lambda s: s["files_added"]), "count", moves, "table-dml")
    add("table.files_live_end", dml["files_live_end"], "count", "latency_ms", "table-dml")

    # the operator registry and its Catalyst plans, per timed pass
    qs = raw["workloads"]["query-suite"]
    runs = [r for r in qs["runs"] if r["ok"]]
    passes = max(1, qs["passes"])

    def per_pass(f):
        return sum(f(r) for r in runs) / passes
    S = "suite_s"
    add("operators.jobs", per_pass(lambda r: r["counters"]["jobs"]), "count", S, "query-suite")
    add("operators.planning_ms", per_pass(lambda r: r["counters"]["analysis_ms"]
                                          + r["counters"]["optimization_ms"]
                                          + r["counters"]["planning_ms"]), "ms", S, "query-suite")
    add("operators.driver_gap_s", per_pass(_driver_gap_ms) / 1000.0, "s", S, "query-suite")
    add("operators.task_cpu_s", per_pass(lambda r: r["counters"]["task_cpu_ms"]) / 1000.0, "s",
        S, "query-suite")
    add("operators.shuffle_mb", per_pass(lambda r: r["counters"]["shuffle_write_bytes"]) / 1048576.0,
        "MB", S, "query-suite")
    add("operators.gc_s", per_pass(lambda r: r["counters"]["gc_ms"]) / 1000.0, "s", S, "query-suite")
    med = _query_ms(qs)
    G = "none: g01 runs in traced runs only"
    add("query.g01_s", med.get("g01_word_pagerank", 0) / 1000.0 or None, "s", G, "query-suite")
    add("query.d02_s", med.get("d02_dedup_ngram_jaccard", 0) / 1000.0 or None, "s", S, "query-suite")
    add("family.q_s", sum(v for q, v in med.items() if q.startswith("q")) / 1000.0 or None, "s",
        S, "query-suite")
    add("query.g01_exchanges", qs["g01_exchanges"], "count", G, "query-suite")

    add("jvm.heap_peak_mb", max(w["heap_peak_mb"] for w in raw["workloads"].values()), "MB",
        "setup_s", "all")
    return out


def trace_self_times(raw):
    """self time per layer over the traced run, with each micro-batch
    added as a `trigger` span under its query so the sink's time is not
    counted as the query's own"""
    spans = [dict(s) for s in raw["spans"]]
    next_id = max([s["id"] for s in spans], default=0) + 1
    for wname in ("wc-latency", "wc-throughput"):
        w = raw["workloads"][wname]
        runs = [s for s in spans if s["layer"] == "run" and s["name"] == wname]
        if not runs:
            continue
        queries = {int(s["name"].split("-")[1]): s for s in spans
                   if s["layer"] == "streaming" and s["parent"] == runs[0]["id"]}
        for b in _batches(w):
            q = queries.get(b["run"])
            if q is None:
                continue
            t = {"id": next_id, "parent": q["id"], "layer": "trigger", "name": "batch",
                 "start_ms": b["start_ms"], "end_ms": b["end_ms"]}
            next_id += 1
            spans.append(t)
            for s in spans:
                if (s["layer"] == "sink" and s["parent"] == q["id"]
                        and t["start_ms"] <= s["start_ms"] and s["end_ms"] <= t["end_ms"] + 1):
                    s["parent"] = t["id"]
    return stats.self_times(spans)
