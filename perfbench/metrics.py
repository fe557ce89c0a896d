"""The benchmark's metrics: what each one means, and how it is computed
from the run record the JVM writes (see perfbench/src/.../Main.scala).

End-to-end metrics are shared by both workloads and come from untraced
passes. Per-layer metrics come from the traced pass; each names the
workload it is measured on and the end-to-end metrics it should move. A
per-layer metric of a layer the workload does not call reads 0.
"""

import stats

# name -> (unit, better, bound, meaning per workload)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25,
                "median of three set-ups. serve: generate, build the clustered index,"
                " pin, exact top-k. ingest: CREATE, the first WRITE, OPTIMIZE(cluster)"),
    "query_p50_ms": ("ms", "lower", 0.25,
                     "median single-query latency of one closed-loop client. serve:"
                     " pinned index. ingest: cold SEARCH, read from storage"),
    "query_p75_ms": ("ms", "lower", 0.25,
                     "the highest percentile with 10 samples beyond it: at least 40"
                     " requests in both workloads"),
    "throughput_per_s": ("1/s", "higher", 0.25,
                         "serve: queries per second of one closed-loop client sending"
                         " 50-query batches (median batch). ingest: rows indexed per second"
                         " by the flushing OPTIMIZEs and the compaction"),
    "recall_at_10": ("ratio", "higher", 0.05,
                     "share of exact top-10 ids returned. serve: every request. ingest:"
                     " the searches after compaction, against the live rows"),
    "retained_heap_mb": ("MB", "lower", 0.25,
                         "heap in use after a full GC at the end of the measured phase"),
}

WORKLOADS = ("serve", "ingest")
RATES = (("rate4", 4.0), ("rate8", 8.0), ("rate16", 16.0))

# name -> (unit, better, workload, end-to-end metrics it should move)
PER_LAYER = {
    "index.plan_ms": ("ms", "lower", "serve", "query_p50_ms"),
    "index.exec_ms": ("ms", "lower", "serve", "query_p50_ms"),
    "spark.jobs_per_query": ("count", "lower", "serve ingest", "query_p50_ms"),
    "spark.tasks_per_query": ("count", "lower", "serve ingest", "query_p50_ms query_p75_ms"),
    "spark.task_overhead_ms_per_query": ("ms", "lower", "serve", "query_p50_ms"),
    "spark.task_busy_ms_per_query": ("ms", "lower", "serve", "query_p75_ms throughput_per_s"),
    "spark.driver_gap_ms": ("ms", "lower", "serve ingest", "query_p50_ms"),
    "serve.queue_wait_ms": ("ms", "lower", "serve", "query_p75_ms"),
    "serve.light_p50_ms": ("ms", "lower", "serve", "query_p50_ms"),
    "serve.loaded_p50_ms": ("ms", "lower", "serve", "query_p75_ms"),
    "serve.max_qps_at_slo": ("1/s", "higher", "serve", "query_p75_ms"),
    "jvm.gc_ms_per_query": ("ms", "lower", "serve", "query_p75_ms"),
    "index.visited_per_query": ("count", "lower", "serve", "throughput_per_s"),
    "index.expanded_per_query": ("count", "lower", "serve", "throughput_per_s"),
    "index.visited_ratio": ("ratio", "lower", "serve", "throughput_per_s"),
    "index.vamana_search_us": ("us", "lower", "serve", "throughput_per_s"),
    "index.vamana_qps": ("1/s", "higher", "serve", "throughput_per_s"),
    "index.build_s": ("s", "lower", "serve", "setup_s"),
    "index.pin_s": ("s", "lower", "serve", "setup_s"),
    "truth_s": ("s", "lower", "serve", "setup_s"),
    "service.write_ms": ("ms", "lower", "ingest", "throughput_per_s"),
    "service.delete_ms": ("ms", "lower", "ingest", "throughput_per_s"),
    "service.flush_s": ("s", "lower", "ingest", "throughput_per_s"),
    "service.cluster_optimize_s": ("s", "lower", "ingest", "setup_s"),
    "service.compact_s": ("s", "lower", "ingest", "throughput_per_s"),
    "storage.bytes_written_per_row": ("B", "lower", "ingest", "throughput_per_s"),
    "storage.bytes_per_vector": ("B", "lower", "ingest", "query_p50_ms"),
    "service.search_plan_ms": ("ms", "lower", "ingest", "query_p50_ms"),
    "service.search_exec_ms": ("ms", "lower", "ingest", "query_p50_ms query_p75_ms"),
    "spark.input_mb_per_query": ("MB", "lower", "ingest", "query_p50_ms"),
    "index.batches": ("count", "lower", "ingest", "query_p50_ms"),
    "index.segments": ("count", "lower", "ingest", "query_p50_ms"),
    "service.create_s": ("s", "lower", "ingest", "setup_s"),
    "service.first_write_s": ("s", "lower", "ingest", "setup_s"),
}
for _kind in ("cluster", "flush", "compact"):
    PER_LAYER.update({
        f"optimize.{_kind}.core_util": ("ratio", "higher", "ingest", "throughput_per_s"),
        f"optimize.{_kind}.driver_gap_s": ("s", "lower", "ingest", "throughput_per_s"),
        f"optimize.{_kind}.shuffle_mb": ("MB", "lower", "ingest", "throughput_per_s"),
        f"optimize.{_kind}.spill_mb": ("MB", "lower", "ingest", "throughput_per_s"),
    })
for _layer in ("request", "index", "service", "spark"):
    PER_LAYER[f"self.{_layer}_s"] = ("s", "lower", "serve ingest", "query_p50_ms throughput_per_s")
for _name, (_unit, _better, _bound, _) in END_TO_END.items():
    PER_LAYER[f"overhead.{_name}"] = (_unit, "lower", "serve ingest", _name)

MB = 1048576.0
BATCH = 50  # queries per closed-loop batch (Serve.Batch)


def ops_of(record, kind):
    return [o for o in record["ops"] if o["kind"] == kind]


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _ms(op):
    return op["end"] - op["start"]


def end_to_end(workload, run):
    """End-to-end metrics of one pass of the record (`run`)."""
    rec = run["record"]
    values = rec["values"]
    if workload == "serve":
        lat = [_ms(o) for o in ops_of(rec, "single")]
        # Median batch time: one slow batch (a GC, a JIT stall) moves it least.
        throughput = BATCH / (stats.median([_ms(o) for o in ops_of(rec, "batch")]) / 1e3)
    else:
        lat = [_ms(o) for o in ops_of(rec, "search")]
        build_ms = sum(_ms(o) for k in ("flush", "compact") for o in ops_of(rec, k))
        throughput = (values["rows.flush"] + values["rows.compact"]) / (build_ms / 1e3)
    return {
        "setup_s": stats.median([s["total_s"] for s in run["setups"]]),
        "query_p50_ms": stats.median(lat),
        "query_p75_ms": stats.percentile(lat, 0.75),
        "throughput_per_s": throughput,
        "recall_at_10": values["recall_hits"] / values["recall_total"],
        "retained_heap_mb": run["retained_heap_mb"],
    }


def _requests(run, kinds):
    """Request spans of the given kinds, with their Spark jobs."""
    by_req = {}
    for j in run["jobs"]:
        by_req.setdefault(j["req"], []).append(j)
    out = []
    for s in run["spans"]:
        if s["layer"] == "request" and s["name"] in kinds:
            out.append((s, by_req.get(s["req"], [])))
    return out


def _children(run, req_span, layer, name):
    return [s for s in run["spans"] if s["req"] == req_span["req"]
            and s["layer"] == layer and s["name"] == name]


def _per_query(reqs, f):
    return _mean(f(s, jobs) for s, jobs in reqs)


def per_layer(workload, untraced, traced, cores):
    """Per-layer metrics from the traced pass, plus the tracing overhead:
    traced minus untraced for each end-to-end metric."""
    out = {name: 0.0 for name in PER_LAYER}
    rec = traced["record"]
    values = rec["values"]
    setup = traced["setups"][-1]
    # Self time over the timed requests of the measured phase (not warm-up).
    in_measure = [s for s in traced["spans"]
                  if s["t0"] >= traced["measure_t0"] and not s["req"].startswith("warm")]
    jobs_in_measure = [j for j in traced["jobs"]
                       if j["t0"] >= traced["measure_t0"] and not j["req"].startswith("warm")]
    for layer, ms in stats.self_times(in_measure, jobs_in_measure).items():
        if f"self.{layer}_s" in out:
            out[f"self.{layer}_s"] = ms / 1e3

    def job_metrics(reqs):
        return {
            "spark.jobs_per_query": _per_query(reqs, lambda s, js: len(js)),
            "spark.tasks_per_query": _per_query(reqs, lambda s, js: sum(j["tasks"] for j in js)),
            "spark.driver_gap_ms": _per_query(reqs, lambda s, js: stats.driver_gap(
                (s["t0"], s["t1"]), [(j["t0"], j["t1"]) for j in js])),
        }

    if workload == "serve":
        light = _requests(traced, {"single"})
        out.update(job_metrics(light))
        out["index.plan_ms"] = _mean(sp["t1"] - sp["t0"] for s, _ in light
                                     for sp in _children(traced, s, "index", "searchIndex"))
        out["index.exec_ms"] = _mean(sp["t1"] - sp["t0"] for s, _ in light
                                     for sp in _children(traced, s, "index", "collect"))
        out["spark.task_overhead_ms_per_query"] = _per_query(
            light, lambda s, js: sum(j["task_ms"] - j["run_ms"] for j in js))
        out["spark.task_busy_ms_per_query"] = _per_query(
            light, lambda s, js: sum(j["run_ms"] for j in js))
        loaded = ops_of(rec, "rate8")
        out["serve.queue_wait_ms"] = _mean(stats.queue_wait(o) for o in loaded)
        out["serve.light_p50_ms"] = stats.median(
            [stats.due_latency(o) for o in ops_of(rec, "rate4")])
        out["serve.loaded_p50_ms"] = stats.median([stats.due_latency(o) for o in loaded])
        out["serve.max_qps_at_slo"] = max_qps_at_slo(rec)
        queries = (sum(len(ops_of(rec, kind)) for kind, _ in RATES)
                   + len(ops_of(rec, "single")) + BATCH * len(ops_of(rec, "batch")))
        out["jvm.gc_ms_per_query"] = traced["gc_ms"] / queries
        nq = values.get("index.queries", 0)
        if nq:
            out["index.visited_per_query"] = values["index.visited"] / nq
            out["index.expanded_per_query"] = values["index.expanded"] / nq
            out["index.visited_ratio"] = values["index.visited"] / values["index.scanned"]
        out["index.vamana_search_us"] = values.get("index.vamana_search_us", 0.0)
        out["index.vamana_qps"] = values.get("index.vamana_qps", 0.0)
        for k in ("index.build_s", "index.pin_s", "truth_s"):
            out[k] = setup[k]
    else:
        searches = _requests(traced, {"search"})
        out.update(job_metrics(searches))
        out["service.search_plan_ms"] = _mean(sp["t1"] - sp["t0"] for s, _ in searches
                                              for sp in _children(traced, s, "service", "search"))
        out["service.search_exec_ms"] = _mean(sp["t1"] - sp["t0"] for s, _ in searches
                                              for sp in _children(traced, s, "service", "collect"))
        out["spark.input_mb_per_query"] = _per_query(
            searches, lambda s, js: sum(j["input_bytes"] for j in js) / MB)
        out["service.write_ms"] = _mean(_ms(o) for o in ops_of(rec, "write"))
        out["service.delete_ms"] = _mean(_ms(o) for o in ops_of(rec, "delete"))
        out["service.flush_s"] = _mean(_ms(o) for o in ops_of(rec, "flush")) / 1e3
        out["service.compact_s"] = _mean(_ms(o) for o in ops_of(rec, "compact")) / 1e3
        # OPTIMIZE runs alone, so every job inside a call's window is its own.
        written = 0.0
        for kind in ("cluster", "flush", "compact"):
            calls = [s for s in traced["spans"]
                     if s["layer"] == "service" and s["name"] == f"optimize.{kind}"]
            wall = gap = busy = shuffle = spill = 0.0
            for s in calls:
                jobs = [j for j in traced["jobs"]
                        if j["t0"] >= s["t0"] - 1 and j["t1"] <= s["t1"] + 1]
                wall += s["t1"] - s["t0"]
                gap += stats.driver_gap((s["t0"], s["t1"]), [(j["t0"], j["t1"]) for j in jobs])
                busy += sum(j["run_ms"] for j in jobs)
                shuffle += sum(j["shuffle_write_bytes"] for j in jobs)
                spill += sum(j["spill_bytes"] for j in jobs)
                if kind != "cluster":
                    written += sum(j["output_bytes"] for j in jobs)
            out[f"optimize.{kind}.core_util"] = busy / (wall * cores) if wall else 0.0
            out[f"optimize.{kind}.driver_gap_s"] = gap / 1e3
            out[f"optimize.{kind}.shuffle_mb"] = shuffle / MB
            out[f"optimize.{kind}.spill_mb"] = spill / MB
        out["storage.bytes_written_per_row"] = written / (values["rows.flush"]
                                                         + values["rows.compact"])
        out["storage.bytes_per_vector"] = values["bytes_per_vector"]
        out["index.batches"] = values["index.batches"]
        out["index.segments"] = values["index.segments"]
        out["service.create_s"] = setup["service.create_s"]
        out["service.first_write_s"] = setup["service.write_s"]
        out["service.cluster_optimize_s"] = setup["service.cluster_optimize_s"]

    # Overhead: the untraced pass ran its set-ups first, so its last set-up
    # is as warm as the traced one.
    plain = end_to_end(workload, untraced)
    plain["setup_s"] = untraced["setups"][-1]["total_s"]
    with_trace = end_to_end(workload, traced)
    for name in END_TO_END:
        out[f"overhead.{name}"] = with_trace[name] - plain[name]
    return out


SLO_MS = 500.0


def max_qps_at_slo(record):
    """The highest open-loop rate whose p95 latency meets SLO_MS with no
    growing backlog; 0 when none does. A phase too short for a p95 is held
    to its slowest request instead."""
    best = 0.0
    for kind, rate in RATES:
        ops = ops_of(record, kind)
        lat = [stats.due_latency(o) for o in ops]
        tail = stats.percentile(lat, 0.95) if len(lat) >= 200 else max(lat)
        if tail <= SLO_MS and not stats.backlog_grows(ops, SLO_MS):
            best = max(best, rate)
    return best


def details(workload, run):
    """The issue's workload-specific figures, for the human-readable report."""
    rec = run["record"]
    values = rec["values"]
    out = {}
    if workload == "serve":
        for kind, _ in RATES:
            lat = [stats.due_latency(o) for o in ops_of(rec, kind)]
            if not lat:  # the ladder runs only in traced passes
                continue
            out[f"{kind}.requests"] = len(lat)
            out[f"{kind}.p50_ms"] = stats.median(lat)
            out[f"{kind}.max_ms"] = max(lat)
            out[f"{kind}.sender_late_ms"] = values.get(f"late_ms.{kind}", 0.0) / max(1, len(lat))
        if ops_of(rec, "rate4"):
            out["max_qps_at_slo"] = max_qps_at_slo(rec)
        out["batch_qps"] = end_to_end(workload, run)["throughput_per_s"]
    else:
        for kind in ("write", "delete", "flush", "compact"):
            out[f"{kind}_ms"] = _mean(_ms(o) for o in ops_of(rec, kind))
        out["build_vps"] = values["rows.base"] / stats.median(
            [s["service.cluster_optimize_s"] for s in run["setups"]])
        out["flush_rows_per_s"] = values["rows.flush"] / (
            sum(_ms(o) for o in ops_of(rec, "flush")) / 1e3)
        out["compact_s"] = out["compact_ms"] / 1e3
        lat = [_ms(o) for o in ops_of(rec, "search")]
        out["cold_searches"] = len(lat)
        out["bytes_per_vector"] = values["bytes_per_vector"]
    return out
