"""PERF.md is reproducible from the committed records (static, no
Spark): rendering ``BENCH_FULL.json`` against ``BASELINE_PROXY.json``
with ``scripts/gen_perf.py`` gives PERF.md byte for byte."""

from __future__ import annotations

import importlib.util
import json
import subprocess
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _committed(name: str) -> str:
    """``name`` as committed at HEAD: ``bench.py`` rewrites
    BENCH_FULL.json in the working tree on every run, and that fresh
    record is not what PERF.md was rendered from. Outside a git
    checkout the working-tree file is all there is."""
    try:
        return subprocess.run(
            ["git", "show", f"HEAD:{name}"],
            cwd=ROOT, capture_output=True, text=True, check=True,
        ).stdout
    except (OSError, subprocess.CalledProcessError):
        return (ROOT / name).read_text()


def test_perf_md_renders_from_the_committed_bench_record():
    spec = importlib.util.spec_from_file_location(
        "gen_perf", ROOT / "scripts" / "gen_perf.py"
    )
    gen_perf = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen_perf)
    bench = json.loads(_committed("BENCH_FULL.json"))
    proxy = json.loads(_committed("BASELINE_PROXY.json"))
    assert gen_perf.render(bench, proxy) == _committed("PERF.md"), (
        "PERF.md is stale: run `python scripts/gen_perf.py BENCH_FULL.json`"
    )
