"""Turn one run's raw records into the benchmark's metrics.

End-to-end metrics (untraced run) have one definition per workload, so
every workload reports every name:

  setup_s       median wall time of the run's set-ups (input generation,
                sync, index build, server start and warm-up; the first also
                covers process and session start)
  p50_ms        median latency of the workload's foreground op, from its
                due time: a filterless /search request (serve_sync); one
                curation job (curate_batch)
  p75_ms        75th percentile of the same sample
  quality       serve_sync: recall@10 of the filterless (IVFADC) path
                against the exact fp16 scan; curate_batch: share of planted
                near-duplicates removed
  live_heap_mb  live heap after a forced full GC at the end of the timed
                phase, Spark's cached blocks included

Per-layer metrics come from the traced half of a traced run; a layer a
workload does not exercise reports 0.
"""

import stats

WORKLOADS = ("serve_sync", "curate_batch")

E2E = (("setup_s", "s"), ("p50_ms", "ms"), ("p75_ms", "ms"),
       ("quality", "ratio"), ("live_heap_mb", "MB"))

PER_LAYER = (
    ("serve.queue_ms", "ms"), ("serve.handler_self_ms", "ms"),
    ("serve.gateway_self_ms", "ms"), ("embed.query_ms", "ms"),
    ("embed.ingest_rows_per_s", "rows/s"), ("embed.batch_ms", "ms"),
    ("similarity.topk_ms", "ms"), ("similarity.ivfjoin_ms", "ms"),
    ("sync.store_get_ms", "ms"), ("sync.fresh_ms", "ms"),
    ("sync.stage_ms.sources", "ms"), ("sync.stage_ms.ingest", "ms"),
    ("sync.stage_ms.embed", "ms"), ("sync.stage_ms.sync", "ms"),
    ("sync.rows_rewritten_per_synced_row", "ratio"),
    ("sync.bytes_written_per_synced_row", "bytes"),
    ("functions.fp16_bytes_scored_per_req", "bytes"),
    ("dedup.exact_ms", "ms"), ("dedup.semdedup_ms", "ms"),
    ("dedup.semdedup_jobs", "count"), ("text.cascade_ms", "ms"),
    ("spark.jobs_per_op", "count"), ("spark.tasks_per_op", "count"),
    ("spark.plan_ms_per_op", "ms"), ("spark.sched_delay_ms", "ms"),
    ("spark.cpu_ms_per_op", "ms"), ("spark.input_bytes_per_op", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("spark.gc_ms", "ms"), ("fs.read_ops_per_op", "count"),
    ("trace.overhead_p50", "ratio"),
)

DIM = 3072            # embedding width of the serving store


def _e2e(values):
    return {name: {"value": float(values[name]), "unit": unit}
            for name, unit in E2E}


def _ms(s):
    return s["end_ms"] - s["start_ms"]


def _latency_lines(label, lat, n_failed):
    n = len(lat)
    level = stats.supported_level(n)
    lines = [f"{label}_p50_ms {stats.median(lat):.2f} ms (n={n}, failed={n_failed})"]
    if level and level > 50:
        lines.append(f"{label}_p{level}_ms {stats.percentile(lat, level):.2f} ms "
                     f"(highest percentile with >=10 samples beyond it)")
    else:
        lines.append(f"{label}_tail: no percentile above the median has 10 "
                     f"samples beyond it at n={n}")
    return lines


def _serve_sync(raw):
    reqs, syncs = raw["requests"], raw["syncs"]
    dense = [r for r in reqs if r["route"] == "dense" and not r["traced"]]
    scan = [r for r in reqs if r["route"] == "scan" and not r["traced"]]
    lat = stats.due_latencies(dense)
    done = [s for s in syncs if s.get("ok") and "start_ms" in s]
    sync_s = [_ms(s) / 1000.0 for s in done]
    fresh = [s["fresh_ms"] / 1000.0 for s in syncs if "fresh_ms" in s]
    values = {"p50_ms": stats.median(lat), "p75_ms": stats.percentile(lat, 75),
              "quality": raw["quality"]}
    late = stats.lateness(reqs)
    start, end = min(r["due_ms"] for r in dense), max(r["due_ms"] for r in dense)
    rate = (len(dense) - 1) / ((end - start) / 1000.0)
    scan_lat = stats.due_latencies(scan)
    lines = _latency_lines("dense", lat, sum(not r["ok"] for r in dense))
    half = sorted(dense, key=lambda r: r["due_ms"])
    early = stats.due_latencies(half[:len(half) // 2])
    late_half = stats.due_latencies(half[len(half) // 2:])
    if early and late_half:
        # a later half much faster than the earlier one means the warm-up
        # left the process still warming inside the timed phase
        lines.append(f"dense_p50_ms by half {stats.median(early):.2f} ms, "
                     f"{stats.median(late_half):.2f} ms")
    lines += [f"dense_backlog_end {stats.backlog(dense, end)} requests, growing "
              f"{stats.growing_backlog(dense, start, end, rate)}",
              f"scan_p50_ms {stats.median(scan_lat):.2f} ms, p90 "
              f"{stats.percentile(scan_lat, 90):.2f} ms (n={len(scan_lat)}, "
              f"during syncs)",
              f"sync_s {stats.median(sync_s):.3f} s (median of {len(sync_s)})",
              f"fresh_s {stats.median(fresh):.3f} s (median of {len(fresh)})",
              f"synced_rows_per_s {sum(s['rows'] for s in done) / sum(sync_s):.2f} "
              f"rows/s" if sync_s else "synced_rows_per_s 0",
              f"recall_at_10 {raw['quality']:.4f} (filterless IVFADC path)",
              f"generator_lateness_p50_ms {stats.median(late):.2f} ms, "
              f"max {max(late):.2f} ms"]
    failed = sum(not r["ok"] for r in reqs) + sum(
        1 for s in syncs if not (s.get("ok") and "fresh_ms" in s))
    return values, lines, len(reqs) + len(syncs), failed


def _curate_batch(raw):
    jobs = [j for j in raw["jobs"] if not j.get("traced")]
    ms = [j["ms"] for j in jobs if j["ok"]]
    docs = jobs[0]["docs"]
    values = {"p50_ms": stats.median(ms), "p75_ms": stats.percentile(ms, 75),
              "quality": raw["quality"]}
    lines = [f"job_p50_ms {values['p50_ms']:.1f} ms (n={len(ms)} jobs)",
             f"curate_docs_per_s {docs / (values['p50_ms'] / 1000.0):.2f} docs/s "
             f"({docs} input docs)",
             f"dedup_recall {raw['quality']:.4f}"]
    return values, lines, len(raw["jobs"]), sum(not j["ok"] for j in raw["jobs"])


def _per_op_spark(raw, fg_ops):
    """Mean Spark counters per foreground op (an op's steps are summed)."""
    tot, n = {}, len(fg_ops)
    for op, c in raw.get("spark_ops", {}).items():
        if op.split(".")[0] in fg_ops:
            for k, v in c.items():
                tot[k] = tot.get(k, 0.0) + v
    per = {k: v / n for k, v in tot.items()} if n else {}
    tasks = tot.get("tasks", 0.0)
    return {
        "spark.jobs_per_op": per.get("jobs", 0.0),
        "spark.tasks_per_op": per.get("tasks", 0.0),
        "spark.plan_ms_per_op": per.get("plan_ms", 0.0),
        "spark.sched_delay_ms": tot.get("sched_delay_ms", 0.0) / tasks if tasks else 0.0,
        "spark.cpu_ms_per_op": per.get("cpu_ms", 0.0),
        "spark.input_bytes_per_op": per.get("input_bytes", 0.0),
        "spark.shuffle_write_bytes": per.get("shuffle_write_bytes", 0.0),
        "spark.spill_bytes": per.get("spill_bytes", 0.0),
        "spark.gc_ms": per.get("gc_ms", 0.0),
    }


def per_layer(workload, raw):
    """Per-layer values from the traced half of a traced run."""
    spans = raw.get("spans", [])
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    selfs = stats.self_times(spans)
    v = {name: 0.0 for name, _ in PER_LAYER}

    def mean_dur(name, ops=None):
        return stats.mean([_ms(s) for s in by_name.get(name, [])
                           if ops is None or s["op"] in ops])

    if workload == "serve_sync":
        traced = [r for r in raw["requests"] if r["traced"]]
        ops = {r["op"] for r in traced}
        due = {r["op"]: r["due_ms"] for r in traced}
        client = {s["op"]: s for s in by_name.get("client.request", []) if s["op"] in ops}
        fn = {s["op"]: s for s in by_name.get("serve.search_fn", []) if s["op"] in ops}
        both = [op for op in client if op in fn]
        v["serve.queue_ms"] = stats.mean([fn[o]["start_ms"] - due[o] for o in both])
        v["serve.handler_self_ms"] = stats.mean([_ms(client[o]) - _ms(fn[o]) for o in both])
        v["serve.gateway_self_ms"] = stats.mean([selfs[fn[o]["id"]] for o in both])
        v["embed.query_ms"] = mean_dur("embed.query", ops)
        v["similarity.topk_ms"] = mean_dur("similarity.topk", ops)
        v["sync.store_get_ms"] = mean_dur("sync.store_get", ops)
        v.update(_per_op_spark(raw, ops))
        v["fs.read_ops_per_op"] = raw.get("fs_read_ops", 0) / max(1, len(ops))
        def dense(t):
            return stats.due_latencies([r for r in raw["requests"]
                                        if r["traced"] == t and r["route"] == "dense"])
        if dense(False) and dense(True):
            v["trace.overhead_p50"] = (stats.median(dense(True))
                                       / stats.median(dense(False)) - 1.0)

    ingest = by_name.get("embed.ingest", [])
    if ingest:
        v["embed.ingest_rows_per_s"] = len(ingest) / (sum(_ms(s) for s in ingest) / 1000.0)

    if workload == "serve_sync":
        syncs = [s for s in by_name.get("sync.incremental", [])]
        sync_ops = {s["op"] for s in syncs}
        rows = {s["op"]: s["rows"] for s in raw["syncs"] if s["op"] in sync_ops}
        fetch = sum(_ms(s) for s in by_name.get("sources.fetch", []) if s["op"] in sync_ops)
        jobs = sum(_ms(s) for s in by_name.get("spark.job", []) if s["op"] in sync_ops)
        embed = sum(_ms(s) for s in ingest if s["op"] in sync_ops)
        wall = sum(_ms(s) for s in syncs)
        n = max(1, len(syncs))
        v["sync.stage_ms.sources"] = fetch / n
        v["sync.stage_ms.ingest"] = jobs / n
        v["sync.stage_ms.embed"] = embed / n
        v["sync.stage_ms.sync"] = max(0.0, wall - fetch - jobs) / n
        written = sum(raw["spark_ops"].get(op, {}).get("records_written", 0) for op in sync_ops)
        nbytes = sum(raw["spark_ops"].get(op, {}).get("bytes_written", 0) for op in sync_ops)
        synced = sum(rows.values())
        if synced:
            v["sync.rows_rewritten_per_synced_row"] = written / synced
            v["sync.bytes_written_per_synced_row"] = nbytes / synced
        v["sync.fresh_ms"] = stats.median([s["fresh_ms"] for s in raw["syncs"]
                                           if s["op"] in sync_ops and "fresh_ms" in s])
        matched = raw.get("matched_rows", {})
        v["functions.fp16_bytes_scored_per_req"] = stats.mean(
            [m * DIM * 2 for m in matched.values()])

    if workload == "curate_batch":
        traced = [j for j in raw["jobs"] if j.get("traced")]
        ops = {j["op"] for j in traced}
        for layer, name in (("dedup.exact", "dedup.exact_ms"),
                            ("dedup.semdedup", "dedup.semdedup_ms"),
                            ("embed.batch", "embed.batch_ms"),
                            ("similarity.ivfjoin", "similarity.ivfjoin_ms"),
                            ("text.cascade", "text.cascade_ms")):
            v[name] = stats.mean([_ms(s) for s in by_name.get(layer, [])
                                  if s["op"].split(".")[0] in ops])
        v["dedup.semdedup_jobs"] = stats.mean(
            [c["jobs"] for op, c in raw.get("spark_ops", {}).items()
             if op.endswith(".dedup.semdedup") and op.split(".")[0] in ops])
        v.update(_per_op_spark(raw, ops))
        v["fs.read_ops_per_op"] = raw.get("fs_read_ops", 0) / max(1, len(ops))
        untraced = [j["ms"] for j in raw["jobs"] if not j.get("traced") and j["ok"]]
        if untraced and traced:
            v["trace.overhead_p50"] = (stats.median([j["ms"] for j in traced])
                                       / stats.median(untraced) - 1.0)
    return {name: {"value": float(v[name]), "unit": unit} for name, unit in PER_LAYER}


def report(workload, raw, trace):
    """Metrics, human-readable lines, and the attempted/failed counts."""
    values, lines, attempted, failed = {
        "serve_sync": _serve_sync, "curate_batch": _curate_batch}[workload](raw)
    values["setup_s"] = stats.median(raw["setup_s"])
    values["live_heap_mb"] = raw["live_heap_mb"]
    head = [f"workload {workload}: {raw['cores']} cores, heap "
            f"{raw['heap_max_mb']:.0f} MB, commit {raw.get('commit', 'unknown')}",
            "setup_s {:.3f} s (median of {})".format(
                values["setup_s"], ", ".join(f"{x:.2f}" for x in raw["setup_s"])),
            f"live_heap_mb {raw['live_heap_mb']:.1f} MB",
            f"error_rate {failed / attempted if attempted else 0.0:.4f} "
            f"({failed} of {attempted} ops failed)"]
    checks = ["check {} {}".format(k, "ok" if ok else "FAILED")
              for k, ok in sorted(raw["checks"].items())]
    m = per_layer(workload, raw) if trace else _e2e(values)
    if trace:
        lines = lines + [f"{k} {x['value']:.4f} {x['unit']}" for k, x in m.items()]
    return {"lines": head + lines + checks, "metrics": m,
            "correct": all(raw["checks"].values()) and failed == 0,
            "attempted": attempted, "failed": failed}
