"""The benchmark's own checks (several minutes; each run is a fresh JVM).

    python3 -m pytest perfbench/test_perfbench.py -q

- the exact counts (jobs, stages and tasks per epoch and per query, URLs
  fetched and discovered per epoch, catalog files) repeat exactly between
  two runs of one seed;
- each workload keeps its defining property on two seeds: crawl_discover
  starts from a frontier of at least ``salt_min_rows`` (the salted select
  path), the politeness quota caps its hottest host in every epoch, it runs
  deferred bloom jobs, expand is its largest phase and fetch a minor one;
  crawl_refresh fetches a full batch and discovers nothing in every epoch;
- ``seenfilter.wait_s`` shows the wait when the bloom thread is held back;
- every run checks clean against its oracle and leaves no process running;
- outside a checkout of the program the benchmark exits non-zero without
  printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


# run.py with SeenBloom.add_keys made slower by a fixed sleep
HELD_BACK = """
import sys, time
sys.path[:0] = [{here!r}, {root!r}]
from newscrawler_spark.engine.seenfilter import SeenBloom
add_keys = SeenBloom.add_keys
def slow_add_keys(*a, **kw):
    time.sleep({sleep_s})
    return add_keys(*a, **kw)
SeenBloom.add_keys = slow_add_keys
import run
sys.exit(run.main(sys.argv[1:]))
"""


def _run(workload: str, seed: int, trace: int, cwd: str = ROOT,
         prog: list[str] | None = None) -> tuple[int, list[str]]:
    # stdout goes to a file, not a pipe: a pipe would also wait for every
    # process that inherited it, and hide one left running
    with tempfile.TemporaryFile("w+") as out:
        p = subprocess.run(
            [sys.executable, *(prog or [os.path.join(HERE, "run.py")]), "--workload",
             workload, "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
            cwd=cwd, stdout=out, stderr=subprocess.DEVNULL, timeout=600,
        )
        left = _left_running(cwd)
        assert not left, left
        out.seek(0)
        return p.returncode, out.read().strip().splitlines()


def _left_running(cwd: str) -> list[str]:
    """Command lines of processes still running with the run's scratch
    directory in them: the Spark JVM names it as its java.io.tmpdir."""
    scratch = os.path.join(os.path.abspath(cwd), ".perfbench") + os.sep
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except (OSError, ValueError):
            continue
        if scratch in cmd:
            out.append(cmd)
    return out


def _record(workload: str, seed: int, trace: int, prog: list[str] | None = None) -> dict:
    code, lines = _run(workload, seed, trace, prog=prog)
    assert code == 0, lines[-5:]
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    return json.loads(lines[-2])["record"]


@pytest.mark.parametrize("workload", ["crawl_discover", "crawl_refresh"])
def test_drain_counts_repeat_and_shape_holds(workload):
    a = _record(workload, 7, 1)
    b = _record(workload, 7, 1)
    c = _record(workload, 8, 0)
    assert a["census"] == b["census"]
    assert all(e["jobs"] > 0 and e["tasks"] > 0 for e in a["census"]["per_epoch"])
    for r in (a, c):
        props = r["properties"]
        if workload == "crawl_discover":
            assert props["salted_select"] and props["quota_binds"], props
            share = props["phase_share"]
            assert max(share, key=share.get) == "expand" and share["fetch"] < 0.3, share
        else:
            assert props["full_batches"] and props["zero_discoveries"], props
    if workload == "crawl_discover":
        assert a["metrics"]["seenfilter.maintain_jobs"] > 0


def test_bloom_wait_shows_when_the_bloom_thread_is_held_back():
    sleep_s = 6.0
    prog = ["-c", HELD_BACK.format(here=HERE, root=ROOT, sleep_s=sleep_s)]
    m = _record("crawl_discover", 7, 1, prog=prog)["metrics"]
    # at least the last epoch's job is awaited at the end of the drain,
    # which does little else after handing it off
    assert m["seenfilter.wait_s"] > sleep_s / 4, m
    assert m["seenfilter.maintain_s"] >= m["seenfilter.wait_s"], m


def test_query_counts_repeat():
    a = _record("query_suite", 7, 1)
    b = _record("query_suite", 7, 1)
    assert a["census"] == b["census"]
    assert len(a["census"]["per_query"]) == 15
    assert a["simhash_pairs_recall"] > 0


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    code, lines = _run("crawl_discover", 1, 0, cwd=str(tmp_path))
    assert code != 0
    assert not any(line.startswith('{"correct"') for line in lines)
