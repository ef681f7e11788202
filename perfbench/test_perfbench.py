"""Tests of the benchmark's own code.  Run from the repository root:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

import json
import os
import shutil
import subprocess
import sys
from collections import Counter
from datetime import datetime

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import summary  # noqa: E402
from inputs import make_stream, make_tables  # noqa: E402


def _read_dir(d):
    return {f: pq.read_table(os.path.join(d, f)) for f in sorted(os.listdir(d))}


def test_stream_generator_is_deterministic_with_exact_counts(tmp_path):
    a = make_stream(str(tmp_path / "a"), 7, events=2_000, files=16, dups=50, late=20)
    b = make_stream(str(tmp_path / "b"), 7, events=2_000, files=16, dups=50, late=20)
    c = make_stream(str(tmp_path / "c"), 8, events=2_000, files=16, dups=50, late=20)
    ta, tb, tc = _read_dir(a.dir), _read_dir(b.dir), _read_dir(c.dir)
    assert len(ta) == 16
    assert all(ta[f].equals(tb[f]) for f in ta)
    assert not all(ta[f].equals(tc[f]) for f in ta)
    assert a.rows == sum(t.num_rows for t in ta.values()) == 2_000 + 50 + 20

    span = 2 * 3_600 * 10**6
    t0 = pa.scalar(datetime(2024, 1, 1), pa.timestamp("us")).value
    rows = []  # (file index, event id, microseconds after the first file's start)
    for name, t in ta.items():
        us = pc.subtract(t["ts"].cast(pa.int64()), t0).to_pylist()
        rows += [(int(name[7:10]), i, u) for i, u in zip(t["event_id"].to_pylist(), us)]
    seen = Counter((i, u) for _, i, u in rows)
    assert len(rows) - len(seen) == 50
    late = [(f, u) for f, i, u in rows if i >= a.late_id_base]
    assert len(late) == 20 and all(u < (f - 11) * span for f, u in late)
    copies = [(f, u) for f, i, u in rows if seen[(i, u)] > 1 and u < f * span]
    assert len(copies) == 50 and all(f * span - u <= span // 4 for f, u in copies)


def test_table_generator_is_deterministic(tmp_path):
    rows = make_tables(str(tmp_path / "a"), 3, 0.0005)
    make_tables(str(tmp_path / "b"), 3, 0.0005)
    ta, tb = _read_dir(str(tmp_path / "a")), _read_dir(str(tmp_path / "b"))
    assert all(ta[f].equals(tb[f]) for f in ta)
    assert rows["lineitem"] == 4 * rows["orders"] and len(rows) == 10


def test_percentile_needs_ten_samples_beyond_it():
    assert summary.percentile(list(range(99)), 0.9) is None
    assert summary.percentile(list(range(100)), 0.9) == 89
    assert summary.percentile(list(range(20)), 0.5) == 9
    assert summary.percentile(list(range(19)), 0.5) is None
    assert summary.spread([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx(3.0 / 3.0)


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "stream_replay",
                          "--seed", "1", "--seconds", "1", "--trace", "0"],
                         cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert out.returncode != 0 and out.stdout == ""


SMOKE = {
    "batch": "partial(run.Batch, sf=0.0001, heap='1g')",
    "stream": "partial(run.StreamReplay, events=650, files=13, dups=10, late=5, heap='1g')",
}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("kind", sorted(SMOKE))
def test_smoke_run_at_tiny_size(kind, trace):
    """One session build and the minimum passes of each workload, on tiny
    inputs, end to end: every metric reported and every output check green."""
    code = ("import sys, run\n"
            "from functools import partial\n"
            f"run.WORKLOADS['tiny'] = {SMOKE[kind]}\n"
            "run.SETUPS = 1\n"
            f"sys.exit(run.main(['--workload', 'tiny', '--seed', '5', '--seconds', '0',"
            f" '--trace', '{trace}']))\n")
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True,
                         text=True, timeout=600, env={**os.environ, "PYTHONPATH": HERE})
    assert out.returncode == 0, out.stderr[-3000:]
    detail, line = (json.loads(x) for x in out.stdout.strip().splitlines()[-2:])
    assert line["correct"] and line["failed"] == 0, detail["errors"]
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    assert sorted(line["metrics"]) == sorted(want)
    if not trace:
        assert all(m["value"] > 0 for m in line["metrics"].values())
        assert [p["kind"] for p in detail["passes"]] == ["cold", "warmup", "warm", "warm"]
