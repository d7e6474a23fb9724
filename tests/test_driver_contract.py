"""Guards on the driver contract (__spark_entry__.py + bench.py): the
driver's correctness gate grades the FIRST 50 registry entries and parses
bench.py's single JSON line — breakage of either silently costs a round, so
both contracts are pinned here."""

import json
import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_SMOKE = "/root/testdata/sf0.001"


def test_registry_contract():
    import __spark_entry__ as e

    qs = e.queries()
    oracles = e.oracle_sql()
    names = list(qs)
    # every oracle key corresponds to a query
    assert set(oracles) <= set(qs)
    # r11: EVERY registry entry is oracle-backed — the three formerly
    # rows-only gates gained full DuckDB oracles (stream_sessions
    # gaps-and-islands replay; bpe_merges/bpe_encode unrolled merge-loop
    # CTE chains), so the whole window must hash-grade.
    missing = [n for n in names if not oracles.get(n)]
    assert not missing, f"registry entries without oracles: {missing}"
    # every callable takes (spark, sf_dir)
    import inspect

    for n, fn in qs.items():
        assert len(inspect.signature(fn).parameters) == 2, n


@pytest.mark.skipif(not os.path.isdir(SF_SMOKE), reason="driver testdata not present")
def test_bench_emits_one_json_line():
    # Optimization r13 (driver-verify fit): the full-registry bench at
    # sf0.001 takes ~3.5 min; by default smoke the contract over the
    # driver-graded window + a deterministic stride sample (the output
    # contract — two JSON lines, short parseable tail — is shape-, not
    # count-dependent). SPARK_GRAFT_FULL_MIRROR=1 (round-close) runs all.
    import __spark_entry__ as e

    full = os.environ.get("SPARK_GRAFT_FULL_MIRROR", "") not in ("", "0")
    names = list(e.queries())
    subset = names if full else names[:25] + names[25::25]
    if not full:
        print(
            f"# bench contract: DEFAULT mode runs {len(subset)} of {len(names)} "
            f"registry entries and skips {len(names) - len(subset)}; set "
            "SPARK_GRAFT_FULL_MIRROR=1 to run them all"
        )
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=SF_SMOKE,
        SPARK_GRAFT_CPUS="4",
        SPARK_GRAFT_BENCH_RUNS="1",
        PYTHONPATH=REPO,
    )
    if not full:
        env["SPARK_GRAFT_BENCH_QUERIES"] = ",".join(subset)
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True,
        text=True,
        timeout=1800,
        env=env,
        cwd=REPO,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    # count only bench contract lines: under heavy load Spark's structured
    # logger can emit a JSON-shaped diagnostic line of its own
    json_lines = [
        ln for ln in out.stdout.splitlines() if ln.strip().startswith('{"metric"')
    ]
    # r5 contract: detail line first, then a SHORT final summary line — the
    # driver tail-parses the LAST line, which must stay <2 KB (the r4 single
    # giant line overflowed the driver's capture: BENCH_r04 "parsed": null)
    assert len(json_lines) == 2, out.stdout
    last = out.stdout.splitlines()[-1]
    assert last.strip().startswith("{") and len(last) < 2000
    summary = json.loads(last)
    assert summary["metric"] == "total_wall_sec_all_queries" and summary["unit"] == "sec"
    assert summary["sf"] == 0.001 and summary["runs_per_query"] == 1
    d = json.loads(json_lines[0])
    assert summary["n_queries"] == len(subset)
    assert set(d["queries"]) == set(subset)
    assert set(d["queries_spread"]) == set(d["queries"])
    for v in d["queries_spread"].values():
        assert v["min"] <= v["med"] <= v["max"]
    assert summary["value"] == d["value"]
    # side file mirrors the detail line
    with open(os.path.join(REPO, "BENCH_DETAIL.json")) as f:
        assert json.load(f)["queries"] == d["queries"]
