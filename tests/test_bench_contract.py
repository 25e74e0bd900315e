"""bench.py is a driver contract: it must print ONE JSON line with the
headline timings. A breakage here silently costs the round's benchmark
record, so smoke-run it at the tiny SF.

The run is a separate process that mostly waits on Spark job latency,
so ``conftest.py`` starts it as soon as this test is collected and the
test only joins it: its wall time overlaps the tests that run first."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
BENCH_TIMEOUT_SECONDS = 900

_run: dict = {}


def start_bench() -> None:
    """Launch bench.py once per session (idempotent). Output goes to
    files, not pipes: nothing reads the child until the test joins it,
    and a full pipe would block it."""
    if _run:
        return
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="8",
    )
    out, err = tempfile.TemporaryFile("w+"), tempfile.TemporaryFile("w+")
    _run.update(
        out=out,
        err=err,
        deadline=time.monotonic() + BENCH_TIMEOUT_SECONDS,
        proc=subprocess.Popen(
            [sys.executable, str(REPO / "bench.py")],
            stdout=out,
            stderr=err,
            text=True,
            env=env,
            cwd=str(REPO),
        ),
    )


def stop_bench() -> None:
    """Kill a run the session no longer waits for."""
    if _run and _run["proc"].poll() is None:
        _run["proc"].kill()
        _run["proc"].wait()


def test_bench_emits_one_json_line():
    start_bench()
    proc = _run["proc"]
    try:
        proc.wait(timeout=max(0.0, _run["deadline"] - time.monotonic()))
    finally:
        stop_bench()
    _run["out"].seek(0)
    _run["err"].seek(0)
    stdout, stderr = _run["out"].read(), _run["err"].read()
    assert proc.returncode == 0, stderr[-2000:]
    json_lines = [
        ln for ln in stdout.splitlines() if ln.startswith("{")
    ]
    assert len(json_lines) == 1, stdout[-2000:]
    rec = json.loads(json_lines[0])
    assert rec["metric"] == "headline_queries_total"
    assert rec["unit"] == "sec" and rec["value"] > 0
    assert rec["queries"] and all(v >= 0 for v in rec["queries"].values())
    # the driver captures only the tail of stdout: the result must be
    # the final line and short enough to survive a 2,000-char capture
    assert stdout.rstrip().splitlines()[-1] == json_lines[0]
    assert len(json_lines[0]) < 1800, len(json_lines[0])
