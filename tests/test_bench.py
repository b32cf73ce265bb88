"""The bench signal is a graded artifact (BENCH_r{N}.json): a crash or
malformed JSON line loses the round's perf signal (round-2 lesson).
This smoke test runs the real bench.py as the driver would — a fresh
subprocess — at sf0.001 with 1 rep and validates the contract: exit 0,
exactly one parseable JSON line on stdout, every headline query timed
(non-null), and the documented keys present."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_contract_smoke():
    import tempfile

    full_path = os.path.join(
        tempfile.mkdtemp(prefix="mri_bench_smoke_"), "BENCH_FULL.json"
    )
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_BENCH_SERIES="1",
        SPARK_GRAFT_BENCH_RERUNS="0",
        # keep the smoke run from clobbering the round's recorded
        # BENCH_FULL.json diagnostics
        SPARK_GRAFT_BENCH_FULL=full_path,
    )
    # a second JVM next to the test session's: keep its heap small
    # unless the caller sized it
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True,
        text=True,
        env=env,
        cwd=REPO,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    json_lines = [
        l for l in proc.stdout.splitlines() if l.strip().startswith("{")
    ]
    assert len(json_lines) == 1, proc.stdout[-2000:]
    # the recording harness keeps only the LAST 2000 chars of stdout —
    # a line past that is unparseable in the round artifact (the r6/r7
    # regression this guards against)
    assert len(json_lines[0]) < 1900, len(json_lines[0])
    out = json.loads(json_lines[0])
    assert out["metric"] == "headline_queries_total_sec"
    assert out["unit"] == "sec"
    assert out["sf"] == 0.001
    assert out["value"] > 0
    bad = [k for k, v in out["queries"].items() if v is None]
    assert not bad, f"headline queries with no timing: {bad}"
    assert len(out["queries"]) >= 29
    # full diagnostics land in the BENCH_FULL.json side file
    full = json.load(open(full_path))
    assert set(full["queries_median"]) == set(out["queries"])
    # samples additionally carries the VM-speed calibration probe
    # (round-10): one fixed synthetic workload per series, surfaced as
    # calib_sec in the printed line but never summed into value
    assert set(full["samples"]) == set(out["queries"]) | {"_calib"}
    assert all(len(v) >= 1 for v in full["samples"].values())
    assert out["calib_sec"] and out["calib_sec"] > 0
    assert "_calib" not in out["queries"]
    # query-shaped probe (round-12): median min of the pinned trivial
    # basket, reported alongside the synthetic probe — the r10->r11 VM
    # pair moved them differently, so both must be in the artifact
    assert out["calib_trivial_sec"] and out["calib_trivial_sec"] > 0
    basket = [
        out["queries"][n]
        for n in ("word_count", "tpch_q6", "dedup_exact", "sessionize")
    ]
    assert min(basket) <= out["calib_trivial_sec"] <= max(basket)
    # sum only non-None timings (mirrors bench.py's ``measured``) so an
    # errored query surfaces as the readable `bad` assertion above /
    # the errors key, never as an opaque TypeError here (ADVICE r10)
    measured = [v for v in out["queries"].values() if v is not None]
    assert abs(sum(measured) - out["value"]) < 0.01
    # calib-adjusted restatement (round-11): value in pinned r10-VM
    # seconds + the reference it was normalized against
    assert out["calib_ref"] == 0.495
    expected_adj = out["value"] * out["calib_ref"] / out["calib_sec"]
    assert abs(out["value_calib_adj"] - expected_adj) < 0.01
    assert set(full["queries_calib_adj"]) == set(out["queries"])
