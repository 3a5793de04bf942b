#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds the library
and the harness (perfbench/harness, sbt) and caches the classpath; later
runs rebuild only when a source file changed. Inputs are generated from
the seed under perfbench/.work/. The harness runs the workload in one
JVM (local[nproc], nproc shuffle partitions); this script then checks
every output and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(see perfbench/README.md). --save DIR also keeps the run's raw output,
spans and metrics in DIR.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
from workloads import WARM_SF, WORKLOADS  # noqa: E402

JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
HEAP = "3g"
RECONCILE_LIMIT = 0.10
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_inputs():
    """Every file whose content defines the library or harness build."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                os.path.join(HARNESS, "src"), os.path.join(HARNESS, "project")):
        for d, subdirs, names in os.walk(top):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def build():
    """Compile library + harness when their sources changed; return the
    runtime classpath."""
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala")):
        if not os.path.exists(f):
            fail(f"not a graft checkout: {os.path.relpath(f, ROOT)} is missing")
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    target = os.path.join(HARNESS, "target")
    stamp, cp_file = os.path.join(target, "build.stamp"), os.path.join(target, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == digest:
                with open(cp_file) as c:
                    return c.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    os.makedirs(target, exist_ok=True)
    log_path = os.path.join(target, "build.log")
    with open(log_path, "w") as log:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                         HARNESS, env, log, BUILD_TIMEOUT_S)
    if rc != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"build failed (exit {rc})")
    with open(stamp, "w") as fh:
        fh.write(digest)
    with open(cp_file) as c:
        return c.read().strip()


def run_bounded(cmd, cwd, env, log, timeout):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it either way."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def generate(name, seed, sf, corpus_sf, copies, times=1):
    """Generate an input dir (`times` times, for a steadier set-up
    figure); returns (dir, median seconds)."""
    d = os.path.join(WORK, "data", f"{name}-s{seed}")
    secs = []
    for _ in range(times):
        t0 = time.perf_counter()
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(d, seed, sf, copies, corpus_sf)
        secs.append(time.perf_counter() - t0)
    return d, statistics.median(secs)


def input_bytes(d):
    """Bytes over every table of an input dir."""
    return sum(os.path.getsize(os.path.join(d, n)) for n in os.listdir(d)
               if n.endswith(".parquet"))


def ingest_outcome(raw, spans, cores, trace):
    """Checks and metrics of a cdc_ingest run. A read that raised is a
    failed operation; `correct` turns false only when the final table
    differs from the generator's latest-state map."""
    body = raw["body"]
    setup_s = raw["session_s"] + body["warm_s"] + body["gen_s"]
    attempted = body["events"] + len(body["reads"]) + len(body["read_errors"])
    failed = body["mismatched_keys"] + len(body["read_errors"])
    problems = {}
    if body["mismatched_keys"]:
        problems["final_state"] = (f"{body['mismatched_keys']} keys differ from the "
                                   f"generator, e.g. {body['mismatch_sample']}")
    if body["read_errors"]:
        problems["reads"] = body["read_errors"][:3]
    layers = metrics.ingest_layers(raw, spans, cores) if trace else None
    return (metrics.ingest_e2e(raw, setup_s), layers, metrics.ingest_extras(raw),
            attempted, failed, body["mismatched_keys"] > 0, problems)


def closed_loop_outcome(raw, spans, cores, trace, w, data, gen_s, out):
    """Checks and metrics of a closed-loop run: pass-0 results against
    the oracle answers, later passes against pass 0. A query that raised
    is a failed operation; `correct` turns false only when a produced
    result mismatched."""
    body = raw["body"]
    setup_s = raw["session_s"] + body["warm_s"] + gen_s
    answers = check.oracle_answers(body["oracle_sql"], data, gen.checksum(data),
                                   os.path.join(WORK, "cache", "oracle"), os.path.join(out, "tmp"))
    bad = check.check_results(os.path.join(out, "results"), answers)
    runs = [q for p in body["passes"] for q in p["queries"]]
    attempted = len(runs)
    failed = sum(1 for q in runs if not q["ok"]) + \
        sum(1 for q in runs if q["ok"] and q["query"] in bad)
    problems = {f"oracle:{q}": r for q, r in bad.items()}
    problems.update({f"pass{f['pass']}:{f['query']}": f["error"] for f in body["failures"]})
    mismatched = bool(bad) or any(f["error"] == "result differs from pass 0"
                                  for f in body["failures"])
    layers = metrics.closed_loop_layers(raw, spans, dict(w["queries"]), cores) if trace else None
    return (metrics.closed_loop_e2e(raw, setup_s, input_bytes(data)), layers,
            metrics.closed_loop_extras(raw),
            attempted, failed, mismatched, problems)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--save", help="keep raw output, spans and metrics here")
    args = ap.parse_args()
    w = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))

    cp = build()
    out = os.path.join(WORK, "run", args.workload)
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    shutil.rmtree(os.path.join(WORK, "data"), ignore_errors=True)

    conf = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cores": cores, "out": out, "work": tmp}
    if w["kind"] == "ingest":
        # the ingest makes its own feed; this input only feeds the traced
        # run's kernel timings
        data, gen_s = generate("kernels", args.seed + 1000003, WARM_SF, WARM_SF, 1)
        for k in ("rate", "backlog", "segment_ms", "keys", "buckets", "think_ms",
                  "warm_segments", "read_guard_ms", "drain_rounds"):
            conf[k] = w[k]
        conf["phase_s"] = args.seconds
    else:
        data, gen_s = generate(args.workload, args.seed, w["sf"], w["corpus_sf"],
                               w["copies"], times=3)
        conf["queries"] = ",".join(q for q, _ in w["queries"])
        # the warm passes are set-up (see ClosedLoop); the measured passes
        # after them fill about --seconds at the nominal pass time, at
        # least `min_passes` (so that a traced run has traced and
        # untraced ones)
        conf["warm_passes"] = w["warm_passes"]
        conf["passes"] = max(w["min_passes"], round(args.seconds / w["pass_s"]))
    conf["data"] = data

    cmd = [java_bin(), f"-Xmx{HEAP}", *ADD_OPENS, "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "graftbench.Main", "run"] + [f"{k}={v}" for k, v in conf.items()]
    log_path = os.path.join(out, "jvm.log")
    with open(log_path, "w") as log:
        rc = run_bounded(cmd, out, dict(os.environ), log, JVM_TIMEOUT_S)
    raw_path = os.path.join(out, "raw.json")
    if rc != 0 or not os.path.exists(raw_path):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"harness failed (exit {rc})")
    with open(raw_path) as fh:
        raw = json.load(fh)
    spans = []
    if args.trace:
        with open(os.path.join(out, "spans.json")) as fh:
            spans = json.load(fh)

    if w["kind"] == "ingest":
        out_ = ingest_outcome(raw, spans, cores, args.trace)
    else:
        out_ = closed_loop_outcome(raw, spans, cores, args.trace, w, data, gen_s, out)
    e2e, layers, extra, attempted, failed, mismatched, problems = out_
    notes = {}
    if args.trace:
        assert set(layers) == set(metrics.per_layer_names()), \
            set(layers) ^ set(metrics.per_layer_names())
        # a traced query whose action span strays from Spark's own
        # execution time by more than 10% of its wall time is a failed
        # operation: its per-layer attribution cannot be trusted
        for (q, span), err in sorted(metrics.reconcile_errors(spans).items()):
            if err > RECONCILE_LIMIT:
                failed += 1
                problems[f"reconcile:{q}:{span}"] = (
                    f"action span is {err:.1%} of the query's wall time away from "
                    f"Spark's execution time")
        if layers["box.flagged"]:
            notes["box"] = "drift canaries never settled within 1.5x (run kept)"
    shown = metrics.with_units(layers) if args.trace else e2e
    summary = {k: round(v["value"], 4) for k, v in e2e.items()}
    summary.update({k: round(v, 4) for k, v in extra.items()})
    summary["error_rate"] = failed / attempted
    summary["probe_ms"] = round(metrics.probe_ms(raw), 3)
    print(f"{args.workload} seed={args.seed} trace={args.trace} " +
          " ".join(f"{k}={v}" for k, v in summary.items()))
    for k, v in sorted(problems.items()):
        print(f"FAILED {k}: {str(v)[:300]}")
    for k, v in sorted(notes.items()):
        print(f"NOTE {k}: {v}")
    if args.save:
        # saved files name paths relative to the checkout, so that they
        # read the same wherever the run was made
        def save(name, text):
            with open(os.path.join(args.save, name), "w") as fh:
                fh.write(text.replace(ROOT + os.sep, ""))
        os.makedirs(args.save, exist_ok=True)
        for n in ("raw.json", "spans.json"):
            if os.path.exists(os.path.join(out, n)):
                with open(os.path.join(out, n)) as fh:
                    save(n, fh.read())
        save("metrics.json", json.dumps(
            {"workload": args.workload, "seed": args.seed, "trace": args.trace,
             "end_to_end": e2e, "per_layer": shown if args.trace else None,
             "summary": summary, "problems": problems, "notes": notes},
            indent=1, sort_keys=True))
    print(json.dumps({"correct": not mismatched, "attempted": attempted, "failed": failed,
                      "metrics": shown}))


if __name__ == "__main__":
    main()
