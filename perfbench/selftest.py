#!/usr/bin/env python3
"""Self-tests of the graft benchmark.

    python3 perfbench/selftest.py            determinism + metric math
    python3 perfbench/selftest.py --smoke    + every workload once, briefly

- Generator determinism: the same seed gives byte-identical segment files
  (the cdc_ingest feed, written by the harness) and the same input and
  corpus-replica checksums; a different seed gives different ones.
- Metric math: percentiles, batch commit times, per-event lag and
  per-batch write amplification on a synthetic progress trace, and the
  closed-loop figures on synthetic passes, all with known answers.
- Smoke: each workload once at its own inputs with --seconds 2, checked
  outputs included.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

TMP = os.path.join(run.WORK, "selftest")


def dir_digest(d):
    h = hashlib.sha256()
    for n in sorted(os.listdir(d)):
        h.update(n.encode())
        with open(os.path.join(d, n), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def test_generator():
    a, b, c = (os.path.join(TMP, x) for x in ("a", "b", "c"))
    gen.generate(a, 5, 0.001, 2, 0.001)
    gen.generate(b, 5, 0.001, 2, 0.001)
    gen.generate(c, 6, 0.001, 2, 0.001)
    assert gen.checksum(a) == gen.checksum(b), "same seed, different inputs"
    assert gen.checksum(a) != gen.checksum(c), "different seeds, same inputs"
    corpus = [hashlib.sha256(open(os.path.join(d, "documents.parquet"), "rb").read()
                             + open(os.path.join(d, "embeddings.parquet"), "rb").read())
              .hexdigest() for d in (a, b, c)]
    assert corpus[0] == corpus[1] != corpus[2], "corpus replica not seed-determined"
    print("ok   generator: inputs and corpus replica are seed-determined")


def test_feed(cp):
    digests = []
    for tag, seed in (("f1", 5), ("f2", 5), ("f3", 6)):
        d = os.path.join(TMP, tag)
        cmd = [run.java_bin(), *run.ADD_OPENS, "-cp", cp, "graftbench.Main", "feed", d,
               str(seed), "3000", "250"]
        subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        names = sorted(os.listdir(d))
        assert names and all(n.startswith("seg_") for n in names), names
        digests.append(dir_digest(d))
    assert digests[0] == digests[1], "same seed, different segment bytes"
    assert digests[0] != digests[2], "different seeds, same segment bytes"
    print("ok   feed: segment bytes are seed-determined, no temp files left")


def test_metric_math():
    assert metrics.percentile([1, 2, 3, 4], 50) == 2.5
    assert metrics.percentile([10], 99) == 10
    assert abs(metrics.percentile(list(range(101)), 90) - 90) < 1e-9
    # two batches: the first commits segments 0-1 at t=1000+500, the
    # second segments 2-3 at t=2000+250 (ms since the epoch)
    progress = [
        {"batchId": 1, "timestamp": "1970-01-01T00:00:02.000Z",
         "durationMs": {"triggerExecution": 250}, "sources": [{"endOffset": "4"}]},
        {"batchId": 0, "timestamp": "1970-01-01T00:00:01.000Z",
         "durationMs": {"triggerExecution": 500}, "sources": [{"endOffset": 2}]},
    ]
    commits = metrics.batch_commits(progress)
    assert commits == [(2, 1500.0), (4, 2250.0)], commits
    assert metrics.commit_ms_of(1, commits) == 1500.0
    assert metrics.commit_ms_of(2, commits) == 2250.0
    # phase starts at t=1000; rate 10/s; segment 1 = events 0,1 at
    # 1000 and 1100; segment 2 = events 2,3 at 1200 and 1300
    segments = [{"idx": 0, "phase": "backlog", "events": 5},
                {"idx": 1, "phase": "fixed", "events": 2, "first_sched_us": 0},
                {"idx": 2, "phase": "fixed", "events": 2, "first_sched_us": 200000}]
    lags = metrics.event_lags(segments, commits, 1000.0, 10.0)
    assert lags == [500.0, 400.0, 1050.0, 950.0], lags
    assert metrics.percentile(lags, 50) == 725.0
    # drain: round 0 (segments 0-1) published at 500, committed at 1500;
    # round 1 (segments 2-3) published at 1600, committed at 2250
    body = {"segments": [{"idx": k, "phase": "backlog", "round": k // 2,
                          "published_ms": (500.0, 1600.0)[k // 2]} for k in range(4)]}
    assert metrics.drain_round_ms(body, commits) == [1000.0, 650.0]
    assert metrics.ingest_drain_s(body, commits) == 0.825
    # write amplification: batch 1 read the backlog segment 0 and is
    # skipped; batches 2-5 read fixed-rate segments; the first (2) and
    # last (5) of those are edges, so 3 and 4 count: (600 + 150) bytes
    # written for (200 + 100) feed bytes
    seg = lambda b, start, end: {"batchId": b, "sources": [
        {"startOffset": start, "endOffset": end}]}
    body = {"backlog_segments": 1,
            "batch_bytes": {"1": 999, "2": 50, "3": 600, "4": 150, "5": 70},
            "segments": [{"idx": k, "bytes": b} for k, b in enumerate((50, 10, 120, 80, 100, 7))],
            "progress": [seg(4, "4", "5"), seg(1, None, "1"), seg(2, "1", "2"),
                         seg(3, "2", "4"), seg(5, "5", "6")]}
    assert metrics.phase_batch_bytes(body) == [(50, 10), (600, 200), (150, 100), (70, 7)]
    assert metrics.ingest_write_amp(body) == 2.5
    body["progress"] = body["progress"][1:3]
    assert metrics.ingest_write_amp(body) == 5.0
    # closed loop: two measured passes after one warm-up pass;
    # lat_p50_ms is the geometric mean of each query's median call
    # (150 and 400 ms), the summary's wall_s their sum
    q = lambda n, ms: {"query": n, "wall_ms": ms}
    raw = {"heap_live_mb": 64.0, "body": {"warm_passes": 1, "passes": [
        {"written_bytes": 0, "queries": [q("a", 900.0), q("b", 900.0)]},
        {"written_bytes": 100, "queries": [q("a", 100.0), q("b", 300.0)]},
        {"written_bytes": 300, "queries": [q("a", 200.0), q("b", 500.0)]}]}}
    e2e = metrics.closed_loop_e2e(raw, 2.0, 100)
    assert abs(e2e["lat_p50_ms"]["value"] - (150.0 * 400.0) ** 0.5) < 1e-9, e2e
    assert metrics.closed_loop_extras(raw) == {"wall_s": 0.55, "calls": 4}
    assert e2e["write_amp"]["value"] == 2.0, e2e
    print("ok   metric math: percentiles, commit times, lag, write amplification, "
          "closed-loop figures")


def test_smoke():
    for w in sorted(WORKLOADS):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                            "--seed", "1", "--seconds", "2", "--trace", "0"],
                           capture_output=True, text=True)
        assert p.returncode == 0, p.stderr[-2000:]
        last = json.loads(p.stdout.strip().splitlines()[-1])
        assert last["correct"] and last["attempted"] > 0, p.stdout[-2000:]
        assert all(v["value"] > 0 for v in last["metrics"].values()), last
        print(f"ok   smoke {w}: {last['attempted']} attempted, {last['failed']} failed")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    shutil.rmtree(TMP, ignore_errors=True)
    os.makedirs(TMP)
    cp = run.build()
    test_generator()
    test_metric_math()
    test_feed(cp)
    if args.smoke:
        test_smoke()
    shutil.rmtree(TMP, ignore_errors=True)


if __name__ == "__main__":
    main()
