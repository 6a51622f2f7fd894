"""The committed scaling artifact must be regenerable from its archived
raw data — BENCH/BASELINE.md is tool output, not hand-edited prose."""

from __future__ import annotations

import importlib.util
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench():
    spec = importlib.util.spec_from_file_location(
        "bench_mod", os.path.join(REPO, "bench.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def test_baseline_md_matches_archived_run(tmp_path, monkeypatch):
    bench = _bench()
    with open(os.path.join(REPO, "BENCH", "scaling_run_latest.json")) as f:
        data = json.load(f)
    with open(os.path.join(REPO, "BENCH", "BASELINE.md")) as f:
        committed = f.read()

    # re-render into a scratch REPO so the committed artifact isn't touched
    os.makedirs(tmp_path / "BENCH", exist_ok=True)
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    out = bench.write_baseline_md(data)

    with open(tmp_path / "BENCH" / "BASELINE.md") as f:
        rendered = f.read()
    assert rendered == committed

    # and the headline must genuinely clear the target from the data
    assert out["meets_target"] is True
    assert out["efficiency_min"] >= 0.8


_ITERATION_PROBE = """
import importlib.util, json, sys
sys.path.insert(0, REPO)
spec = importlib.util.spec_from_file_location("bench_mod", REPO + "/bench.py")
bench = importlib.util.module_from_spec(spec)
spec.loader.exec_module(bench)
bench.CACHE = CACHE
bench.GEN_PARTITIONS = bench.SPLIT_TASKS = 4

from osm_hadoop_spark.session import get_spark

spark = get_spark("bench-iterations", master="local[2]", shuffle_partitions=4)
seen = []
pipeline = bench.flagship_pipeline


class Recorded:
    def __init__(self, df):
        self.df = df

    def collect(self):
        rows = self.df.collect()
        seen[-1].update(n_tiles=rows[0]["n_tiles"], n_pairs=int(rows[0]["n_pairs"]))
        return rows


def recording_pipeline(spark, docs_path):
    seen.append({"persisted": spark.sparkContext._jsc.getPersistentRDDs().size()})
    return Recorded(pipeline(spark, docs_path))


bench.flagship_pipeline = recording_pipeline
bench.run_flagship(spark, 400, iters=2)
spark.stop()
print(json.dumps(seen))
"""


def test_run_flagship_iterations_start_uncached(tmp_path):
    """Every timed bench iteration starts with nothing persisted, so none
    reuses the parse an earlier iteration cached; both give the same
    counts. Runs in its own Spark session, because the test session holds
    persisted frames of other tests."""
    import subprocess
    import sys

    script = f"REPO = {REPO!r}\nCACHE = {str(tmp_path)!r}\n" + _ITERATION_PROBE
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    env.pop("SPARK_GRAFT_LOCAL_DIR", None)
    r = subprocess.run([sys.executable, "-c", script], cwd=str(tmp_path), env=env,
                       capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-4000:]
    seen = json.loads(r.stdout.strip().splitlines()[-1])
    assert [s["persisted"] for s in seen] == [0, 0]
    assert seen[0]["n_pairs"] > 0
    assert (seen[0]["n_tiles"], seen[0]["n_pairs"]) == (seen[1]["n_tiles"], seen[1]["n_pairs"])
