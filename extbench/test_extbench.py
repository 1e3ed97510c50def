"""Self-tests of the benchmark (not part of the package's test suite).

    python3 -m pytest extbench/test_extbench.py -q

A tiny-size smoke run of the real driver checks that every metric named
in BENCHMARK.json is printed with its unit and sample count, and that
deliberately corrupted committed outputs are counted as failed.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import re
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from extbench import gen, run
from extbench.workloads import WORKLOADS, _manifests

TINY = {"interleaved": 120, "digital": 300, "ladder": 60}
CACHE = os.path.join(run.ROOT, ".extbench", "selftest")
SPEC = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))


def _run(workload: str, trace: int) -> tuple[int, list[str]]:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        code = run.main(["--workload", workload, "--seed", "3",
                         "--seconds", "0.1", "--trace", str(trace)],
                        sizes=TINY, cache=CACHE)
    return code, buf.getvalue().strip().splitlines()


def _check_printed(lines: list[str], specs: list[dict]) -> None:
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in specs}
    for m in specs:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
        pat = (rf"^metric {re.escape(m['name'])} = \S+ "
               rf"{re.escape(m['unit'])} \(samples=\d+\)$")
        assert any(re.match(pat, ln) for ln in lines), m["name"]
    host = [ln for ln in lines if ln.startswith("host ")]
    assert host and json.loads(host[0][5:])["cpus_affinity"] >= 1


def test_smoke_end_to_end_metrics():
    code, lines = _run("interleaved", 0)
    assert code == 0
    _check_printed(lines, SPEC["end_to_end"])


def test_smoke_per_layer_metrics():
    code, lines = _run("digital", 1)
    assert code == 0
    _check_printed(lines, SPEC["per_layer"])
    m = json.loads(lines[-1])["metrics"]
    assert m["operators.ocr.pages"]["value"] == 0
    n = TINY["ladder"]
    assert [m[f"plans.cascade.rung{p}_docs"]["value"]
            for p in range(1, 5)] == [n, 5 * n // 6, n // 3, n // 6]
    assert m["plans.snapshot.rows_written"]["value"] == TINY["digital"]


@pytest.fixture(scope="module")
def spark():
    scratch = os.path.join(CACHE, "spark")
    s = run.start_session(run.affinity_cpus(), scratch, None)
    yield s
    run.stop_session(s)
    shutil.rmtree(scratch, ignore_errors=True)


def _one_job(spark, workload: str, name: str):
    if workload != "ladder":
        gen.ensure_pools(run.ROOT, CACHE, gen.source_digest(run.ROOT),
                         TINY, run.affinity_cpus())
    inputs = gen.seeded_inputs(run.ROOT, CACHE, workload, 5,
                               TINY[workload], run.affinity_cpus())
    out = os.path.join(CACHE, "corrupt", name)
    shutil.rmtree(out, ignore_errors=True)
    wl = WORKLOADS[workload](spark, inputs)
    wl.run(out)
    return wl, out


def _rewrite(data_dir: str, fn) -> None:
    t = pq.read_table(data_dir)
    shutil.rmtree(data_dir)
    os.makedirs(data_dir)
    pq.write_table(fn(t), os.path.join(data_dir, "part-0.parquet"))


def test_corrupted_synth_output_counts_failed(spark):
    wl, out = _one_job(spark, "interleaved", "synth")
    assert wl.check(out) == (wl.docs, 0)
    assert wl.resume_commits(out) == 0
    data_dir = _manifests(out)[0]["data_dir"]

    def corrupt(t: pa.Table) -> pa.Table:
        t = t.sort_by("doc_id")
        spans = t.column("spans").to_pylist()
        spans[0] = spans[0][1:] + spans[0][:1]  # wrong order in doc 0
        t = t.set_column(t.schema.get_field_index("spans"), "spans",
                         pa.array(spans, type=t.schema.field("spans").type))
        return t.slice(0, len(t) - 1)  # last doc missing

    _rewrite(data_dir, corrupt)
    assert wl.check(out) == (wl.docs, 2)
    assert wl.resume_commits(out) == 1  # the missing doc is work again


def test_corrupted_ladder_output_counts_failed(spark):
    wl, out = _one_job(spark, "ladder", "ladder")
    assert wl.check(out) == (wl.docs, 0)
    assert wl.resume_commits(out) == 0
    data_dir = _manifests(os.path.join(out, "fields_ladder"))[0]["data_dir"]

    def corrupt(t: pa.Table) -> pa.Table:
        rows = t.sort_by("doc_id").to_pylist()
        rows[0]["total_amount"] = "999,99"
        rows[1]["total_amount_pass"] = 4
        return pa.Table.from_pylist(rows, schema=t.schema)

    _rewrite(data_dir, corrupt)
    assert wl.check(out) == (wl.docs, 2)


_ORPHAN_PROBE = """
import os, subprocess, sys
sys.path.insert(0, sys.argv[1])
from extbench.run import adopt_orphans, end_descendants
adopt_orphans()
# a shell that leaves behind a sleep which ignores SIGTERM, then exits
out = subprocess.run(["bash", "-c", "(trap '' TERM; exec sleep 300 "
                      ">/dev/null 2>&1) & echo $!"], capture_output=True,
                     text=True).stdout
end_descendants(grace_s=0.5)
print(out.strip())
"""


def test_driver_ends_orphaned_descendants():
    """A process the run started, orphaned and deaf to SIGTERM, has ended
    by the time ``end_descendants`` returns."""
    out = subprocess.run([sys.executable, "-c", _ORPHAN_PROBE, run.ROOT],
                         capture_output=True, text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    pid = int(out.stdout.split()[-1])
    assert not os.path.exists(f"/proc/{pid}")
