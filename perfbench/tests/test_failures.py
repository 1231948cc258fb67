"""A run in which the program fails still ends with a result line, and
that line reports the failure."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)

# replaces one program function, then runs the benchmark
INJECT = """
import sys
sys.path[:0] = [{root!r}, {bench!r}]
import {module} as target

def broken(*args, **kwargs):
    {body}

target.{function} = broken
import run
sys.exit(run.main(sys.argv[1:]))
"""


@pytest.mark.parametrize(
    "module, function, body",
    [
        # every night raises
        ("dbbspark.streaming.ingest", "ingest_batch",
         "raise RuntimeError('injected')"),
        # the gate writes nothing, so the check cannot read its output
        ("dbbspark.streaming.linededup", "process_batch", "return None"),
    ],
)
def test_failing_nights_are_reported(tmp_path, module, function, body):
    code = INJECT.format(
        root=ROOT, bench=BENCH, module=module, function=function, body=body
    )
    proc = subprocess.run(
        [sys.executable, "-c", code, "--workload", "nightly_write",
         "--seed", "3", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is False
    assert result["failed"] >= 2  # the warm-up night and the measured one
    assert result["metrics"]["success_frac"]["value"] < 1
    assert not os.path.exists(tmp_path / ".perfbench_work")
