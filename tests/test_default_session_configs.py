"""The r3 driver-only hash mismatches were invisible to the local
harness because it pins session configs (UTC, shuffle partitions, AQE)
that an external harness may not. Regression: the four formerly-red
queries must value-match DuckDB EXACTLY (17 significant digits, not the
sweep's 6dp) under a bone-stock SparkSession in a FRESH JVM — no UTC
pin, default 200 shuffle partitions, default ANSI — via
scripts/repro_r3_fails.py.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_former_red_queries_exact_under_bone_stock_session():
    r = subprocess.run(
        [sys.executable, "scripts/repro_r3_fails.py"],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=540,
        env={**os.environ, "SPARK_GRAFT_CPUS": "8"},
    )
    assert r.returncode == 0, (r.stdout[-3000:], r.stderr[-1500:])
    assert "DIFF" not in r.stdout, r.stdout[-3000:]


def test_driver_memory_default_is_sized_from_the_host(monkeypatch):
    from mrc_spark_jobs_pubmed_spark import session

    def host(gib):
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * (1 << 30) // 4096}
        monkeypatch.setattr(os, "sysconf", pages.__getitem__)

    host(4)
    assert session.default_driver_memory() == "2048m"
    host(15)
    assert session.default_driver_memory() == "7680m"
    host(256)
    assert session.default_driver_memory() == "16384m"  # today's 16g cap
