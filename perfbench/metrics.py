"""Metric math of the graft benchmark: percentiles, ingest lag from the
stream's progress trace, and the end-to-end and per-layer figures of one
run computed from the harness's raw output (`raw.json`, `spans.json`)."""
import datetime
import json
import math
import statistics

MB = 1024.0 * 1024.0


def percentile(values, p):
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values):
    return statistics.median(values)


def _ts_ms(text):
    t = datetime.datetime.strptime(text, "%Y-%m-%dT%H:%M:%S.%fZ")
    return t.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000.0


def batch_commits(progress):
    """[(end_offset, commit_ms)] per micro-batch, in batch order: the
    batch's trigger start plus its triggerExecution duration."""
    out = []
    for p in sorted(progress, key=lambda p: p["batchId"]):
        src = p["sources"][0]
        end = src.get("endOffset")
        if end is None:
            continue
        end = int(json.loads(end) if isinstance(end, str) else end)
        out.append((end, _ts_ms(p["timestamp"]) + p["durationMs"]["triggerExecution"]))
    return out


def commit_ms_of(segment, commits):
    """Commit time of the first batch whose end offset covers `segment`
    (offsets count consumed segment files, so segment k is covered once
    the end offset exceeds k)."""
    for end, ms in commits:
        if end > segment:
            return ms
    raise ValueError(f"segment {segment} never committed")


def event_lags(segments, commits, phase_start_ms, rate):
    """Lag of every fixed-rate event: its batch's commit time minus its
    scheduled send time (phase start + first_sched_us + j / rate)."""
    lags = []
    for s in segments:
        if s["phase"] != "fixed":
            continue
        done = commit_ms_of(s["idx"], commits)
        first = phase_start_ms + s["first_sched_us"] / 1000.0
        lags.extend(done - (first + j * 1000.0 / rate) for j in range(s["events"]))
    return lags


def _m(value, unit):
    return {"value": value, "unit": unit}


# ---------------------------------------------------------------- end to end

def measured_passes(raw):
    """The passes after the warm-up ones (see ClosedLoop)."""
    body = raw["body"]
    return body["passes"][body["warm_passes"]:]


def query_walls(passes):
    """{query: [wall_ms of each measured call]}."""
    out = {}
    for p in passes:
        for q in p["queries"]:
            out.setdefault(q["query"], []).append(q["wall_ms"])
    return out


def closed_loop_e2e(raw, setup_s, input_bytes):
    """Closed loop: lat_p50_ms is the geometric mean over the queries of
    each query's median call time (robust to a slow call; every query
    weighs the same whatever its cost)."""
    passes = measured_passes(raw)
    meds = query_medians(passes)
    return {
        "setup_s": _m(setup_s, "s"),
        "lat_p50_ms": _m(math.exp(statistics.fmean(math.log(m) for m in meds)), "ms"),
        "write_amp": _m(median(p["written_bytes"] for p in passes) / input_bytes, "ratio"),
        "heap_live_mb": _m(raw["heap_live_mb"], "MB"),
    }


def query_medians(passes):
    return [median(xs) for xs in query_walls(passes).values()]


def closed_loop_extras(raw):
    """Closed-loop figures printed on the summary line but not gated:
    wall_s, one pass of the query sequence as the sum over the queries of
    each query's median call time, and the number of measured calls."""
    passes = measured_passes(raw)
    return {"wall_s": sum(query_medians(passes)) / 1000.0,
            "calls": sum(len(p["queries"]) for p in passes)}


def drain_round_ms(body, commits):
    """Per backlog round: its publish time → commit of its last segment."""
    last = {}
    for s in sorted(body["segments"], key=lambda s: s["idx"]):
        if s["phase"] == "backlog":
            last[s["round"]] = s
    return [commit_ms_of(s["idx"], commits) - s["published_ms"] for s in last.values()]


def ingest_drain_s(body, commits):
    """Time to materialize one backlog round (median over the rounds)."""
    return median(drain_round_ms(body, commits)) / 1000.0


def phase_batch_bytes(body):
    """[(bytes the sink wrote, feed bytes consumed)] per fixed-rate
    micro-batch, in batch order."""
    seg_bytes = {s["idx"]: s["bytes"] for s in body["segments"]}
    out = []
    for p in sorted(body["progress"], key=lambda p: p["batchId"]):
        src = p["sources"][0]
        start, end = src.get("startOffset"), src.get("endOffset")
        wrote = body["batch_bytes"].get(str(p["batchId"]))
        if start is None or end is None or wrote is None:
            continue
        start, end = int(start), int(end)
        if start < body["backlog_segments"] or end <= start:
            continue
        out.append((wrote, sum(seg_bytes[k] for k in range(start, end))))
    return out


def ingest_write_amp(body):
    """Bytes the sink wrote ÷ feed bytes, over the interior fixed-rate
    batches: the first one (a single segment right after the drain) and
    the last one (the catch-up remainder) are edge effects, and counting
    whole batches keeps the figure from jumping with the batch count.
    A phase of fewer than three batches counts all of them."""
    batches = phase_batch_bytes(body)
    if len(batches) >= 3:
        batches = batches[1:-1]
    return sum(w for w, _ in batches) / sum(f for _, f in batches)


def ingest_e2e(raw, setup_s):
    """cdc_ingest: lat_p50_ms is the median event lag of the fixed-rate
    phase."""
    b = raw["body"]
    return {
        "setup_s": _m(setup_s, "s"),
        "lat_p50_ms": _m(percentile(ingest_lags(b), 50), "ms"),
        "write_amp": _m(ingest_write_amp(b), "ratio"),
        "heap_live_mb": _m(raw["heap_live_mb"], "MB"),
    }


def ingest_lags(b):
    return event_lags(b["segments"], batch_commits(b["progress"]), b["phase_start_ms"], b["rate"])


def ingest_extras(raw):
    """Ingest figures printed on the summary line but not gated."""
    b = raw["body"]
    commits = batch_commits(b["progress"])
    lags = ingest_lags(b)
    reads = [r["ms"] for r in b["reads"]]
    drain_s = ingest_drain_s(b, commits)
    return {"wall_s": drain_s, "drain_eps": b["round_events"] / drain_s,
            "lag_p90_ms": percentile(lags, 90), "lag_p99_ms": percentile(lags, 99),
            "batches": sum(1 for end, _ in commits if end > b["backlog_segments"]),
            "read_p50_ms": percentile(reads, 50), "read_p90_ms": percentile(reads, 90),
            "reads": len(reads), "space_amp": space_amp(raw)}


def probe_ms(raw):
    """Median reading of the per-run machine probe (pre and post)."""
    return median(raw["probe_pre_ms"] + raw["probe_post_ms"])


# ----------------------------------------------------------------- per layer

MODULES = ("cdc", "queries", "ops")
MODULE_FIELDS = ("build_ms", "action_ms", "plan_ms", "jobs", "stages", "tasks",
                 "sched_delay_ms", "exec_run_ms", "exec_cpu_ms", "gc_ms",
                 "shuffle_write_mb", "spill_mb", "core_busy_share")
STREAM_KEYS = (("add_batch_ms", "addBatch"), ("wal_commit_ms", "walCommit"),
               ("commit_offsets_ms", "commitOffsets"),
               ("query_planning_ms", "queryPlanning"),
               ("latest_offset_ms", "latestOffset"))
UNITS = {"gen.late_ms_p99": "ms", "trace.reconcile_max_err": "ratio"}


def _unit(name):
    if name in UNITS:
        return UNITS[name]
    for suffix, unit in (("_ms", "ms"), ("_ns", "ns"), ("_mb", "MB"), ("_s", "s"),
                         ("_share", "ratio"), ("_amp", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def per_layer_names():
    names = [f"{m}.{f}" for m in MODULES for f in MODULE_FIELDS]
    names += ["functions.minhash_ns", "functions.simhash_ns", "functions.cosine_ns",
              "cdc.pg_encode_ns", "cdc.pg_decode_ns", "plans.asof_ms"]
    names += ["stream.batches"] + [f"stream.{k}" for k, _ in STREAM_KEYS] + \
             ["stream.state_rows", "stream.state_commit_ms"]
    names += ["sinks.upsert_ms", "sinks.buckets_touched", "sinks.files_written",
              "sinks.write_mb", "sinks.read_latest_ms", "sinks.read_latest_p90_ms",
              "sinks.files_per_read", "sinks.compact_ms", "sinks.compact_rewrite_mb", "sinks.space_amp"]
    names += ["gen.events", "gen.late_ms_p99", "gen.backlog_end"]
    names += ["box.canary_scan_s", "box.canary_shuffle_s", "box.flagged", "box.probe_ms"]
    names += ["trace.overhead_share", "trace.unattributed_share", "trace.reconcile_max_err"]
    return names


def _sum_counters(spans, pick):
    tot = {"jobs": 0, "stages": 0, "tasks": 0, "sched_delay_ms": 0, "exec_run_ms": 0,
           "exec_cpu_ms": 0.0, "gc_ms": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
           "plan_ms": 0.0, "batches": 0, "state_rows": 0, "state_commit_ms": 0}
    durs = {}
    for s in spans:
        if not pick(s):
            continue
        c = s["counters"]
        for k in tot:
            tot[k] += c[k]
        for k, v in c["durations_ms"].items():
            durs[k] = durs.get(k, 0) + v
    return tot, durs


def _stream_layers(tot, durs):
    out = {"stream.batches": tot["batches"]}
    for name, key in STREAM_KEYS:
        out[f"stream.{name}"] = durs.get(key, 0)
    out["stream.state_rows"] = tot["state_rows"]
    out["stream.state_commit_ms"] = tot["state_commit_ms"]
    return out


def reconcile_errors(spans):
    """Per traced query: how far the harness's action span is from
    Spark's own duration of the executions it ran (QueryExecutionListener,
    an independent clock), as a share of the query's wall time."""
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    errs = {}
    for s in spans:
        if s["name"] != "query":
            continue
        for c in by_parent.get(s["id"], ()):
            if c["name"] == "action" and c["counters"]["plan_runs"]:
                errs[(s["query"], s["id"])] = \
                    abs(c["dur_ms"] - c["counters"]["qe_ms"]) / max(s["dur_ms"], 1e-9)
    return errs


def _common_layers(raw, spans, cores):
    out = {}
    k = raw.get("kernels") or {}
    out["functions.minhash_ns"] = k.get("minhash_ns", 0.0)
    out["functions.simhash_ns"] = k.get("simhash_ns", 0.0)
    out["functions.cosine_ns"] = k.get("cosine_ns", 0.0)
    out["cdc.pg_encode_ns"] = k.get("pg_encode_ns", 0.0)
    out["cdc.pg_decode_ns"] = k.get("pg_decode_ns", 0.0)
    pre, post = raw.get("box_pre") or {}, raw.get("box_post") or {}
    scan = pre.get("scan_s", [])[-2:] + post.get("scan_s", [])
    shuffle = pre.get("shuffle_s", [])[-2:] + post.get("shuffle_s", [])
    out["box.canary_scan_s"] = median(scan) if scan else 0.0
    out["box.canary_shuffle_s"] = median(shuffle) if shuffle else 0.0
    out["box.flagged"] = 1 if pre.get("flagged") else 0
    out["box.probe_ms"] = probe_ms(raw)
    errs = reconcile_errors(spans)
    out["trace.reconcile_max_err"] = max(errs.values()) if errs else 0.0
    return out


def closed_loop_layers(raw, spans, modules, cores):
    """Per-layer figures of a traced closed-loop run: module sums per
    traced pass (median over traced passes), plus the common layers."""
    body = raw["body"]
    by_id = {s["id"]: s for s in spans}
    traced = [p for p in measured_passes(raw) if p["traced"]]
    untraced = [p for p in measured_passes(raw) if not p["traced"]]
    per_pass = []
    for p in traced:
        qspans = {q["span"] for q in p["queries"]}
        kids = {s["id"] for s in spans if s["parent"] in qspans}
        inside = qspans | kids
        row = {}
        for m in MODULES:
            qs = [q for q in p["queries"] if modules[q["query"]] == m]
            ids = {q["span"] for q in qs}
            ids |= {s["id"] for s in spans if s["parent"] in ids}
            tot, _ = _sum_counters(spans, lambda s: s["id"] in ids)
            wall_ms = sum(q["wall_ms"] for q in qs)
            row.update({
                f"{m}.build_ms": sum(q["build_ms"] for q in qs),
                f"{m}.action_ms": sum(q["action_ms"] for q in qs),
                f"{m}.plan_ms": tot["plan_ms"], f"{m}.jobs": tot["jobs"],
                f"{m}.stages": tot["stages"], f"{m}.tasks": tot["tasks"],
                f"{m}.sched_delay_ms": tot["sched_delay_ms"],
                f"{m}.exec_run_ms": tot["exec_run_ms"],
                f"{m}.exec_cpu_ms": tot["exec_cpu_ms"], f"{m}.gc_ms": tot["gc_ms"],
                f"{m}.shuffle_write_mb": tot["shuffle_write_bytes"] / MB,
                f"{m}.spill_mb": tot["spill_bytes"] / MB,
                f"{m}.core_busy_share": tot["exec_run_ms"] / (wall_ms * cores) if wall_ms else 0.0,
            })
        row["plans.asof_ms"] = sum(q["wall_ms"] for q in p["queries"]
                                   if q["query"] in ("cdc_asof_join", "cdc_stream_asof"))
        tot, durs = _sum_counters(spans, lambda s: s["id"] in inside)
        row.update(_stream_layers(tot, durs))
        # exec time of the traced pass that no span claimed
        unclaimed = by_id[p["span"]]["counters"]["exec_run_ms"]
        row["_unattributed_ms"] = unclaimed
        row["_attributed_ms"] = tot["exec_run_ms"]
        per_pass.append(row)
    out = {k: median(r[k] for r in per_pass) for k in per_pass[0]}
    unatt = out.pop("_unattributed_ms") + raw["unattributed"]["exec_run_ms"] / max(1, len(traced))
    att = out.pop("_attributed_ms")
    out["trace.unattributed_share"] = unatt / max(1e-9, unatt + att)
    tw = median(sum(q["wall_ms"] for q in p["queries"]) for p in traced)
    uw = median(sum(q["wall_ms"] for q in p["queries"]) for p in untraced)
    out["trace.overhead_share"] = tw / uw - 1.0
    for name in ("sinks.upsert_ms", "sinks.buckets_touched", "sinks.files_written",
                 "sinks.write_mb", "sinks.read_latest_ms", "sinks.read_latest_p90_ms",
                 "sinks.files_per_read", "sinks.compact_ms", "sinks.compact_rewrite_mb",
                 "sinks.space_amp",
                 "gen.events", "gen.late_ms_p99", "gen.backlog_end"):
        out[name] = 0
    out.update(_common_layers(raw, spans, cores))
    return out


def ingest_layers(raw, spans, cores):
    b = raw["body"]
    out = {f"{m}.{f}": 0 for m in MODULES for f in MODULE_FIELDS}
    out["plans.asof_ms"] = 0
    progress = b["progress"]
    tot = {"batches": len(progress),
           "state_rows": sum(o["numRowsTotal"] for p in progress
                             for o in p.get("stateOperators", [])),
           "state_commit_ms": sum(o["commitTimeMs"] for p in progress
                                  for o in p.get("stateOperators", []))}
    durs = {}
    for p in progress:
        for k, v in p["durationMs"].items():
            durs[k] = durs.get(k, 0) + v
    out.update(_stream_layers(tot, durs))
    adds = [p["durationMs"].get("addBatch", 0) for p in progress if p["numInputRows"] > 0]
    reads = [r["ms"] for r in b["reads"]]
    out.update({
        "sinks.upsert_ms": median(adds) if adds else 0.0,
        "sinks.buckets_touched": b["buckets_touched"],
        "sinks.files_written": b["files_after"],
        "sinks.write_mb": (b["table_bytes_after"] - b["table_bytes_before"]) / MB,
        "sinks.read_latest_ms": median(reads),
        "sinks.read_latest_p90_ms": percentile(reads, 90),
        "sinks.files_per_read": b["files_per_read"],
        "sinks.compact_ms": b["compact_s"] * 1000.0,
        "sinks.compact_rewrite_mb": b["compact_bytes"] / MB,
        "sinks.space_amp": space_amp(raw),
        "gen.events": b["events"],
        "gen.late_ms_p99": percentile([s["published_ms"] - s["due_ms"]
                                       for s in b["segments"] if s["phase"] == "fixed"], 99),
        "gen.backlog_end": b["backlog_end"],
    })
    att = sum(s["counters"]["exec_run_ms"] for s in spans)
    unatt = raw["unattributed"]["exec_run_ms"]
    out["trace.unattributed_share"] = unatt / max(1e-9, att + unatt)
    out["trace.overhead_share"] = raw["trace_callback_ms"] / (b["end_ms"] - b["start_ms"])
    out.update(_common_layers(raw, spans, cores))
    return out


def space_amp(raw):
    b = raw["body"]
    return b["table_bytes_final"] / b["live_bytes"]


def with_units(values):
    return {k: _m(v, _unit(k)) for k, v in values.items()}
