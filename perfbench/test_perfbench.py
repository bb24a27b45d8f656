"""Self-checks of the benchmark (not part of the engine's test suite):

    python3 -m pytest perfbench -q -p no:cacheprovider

They check that the inputs reproduce the engine's fixtures, that the oracles
agree with the engine on a small seed and catch planted faults, that the
tracing counters attribute work to the right layer, and that the printed
records name every metric of BENCHMARK.json.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import inputs  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import tracing as tr  # noqa: E402

SMALL = {
    "flagship_small": {"cmd": "flagship", "pages": 20_000, "buildings": 200, "warmup": 0},
    "seed3d": {"cmd": "seed", "pages": 0, "buildings": 200, "warmup": 0},
}


def _sha(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_inputs_match_engine_fixtures(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_FIXTURE_DIR", str(tmp_path / "engine"))
    from osm_data_3d_tiles_spark.sources import fixtures as fx

    for name, make, n in (("pages", inputs.make_pages, fx.n_pages(0.001)),
                          ("buildings", inputs.make_buildings, fx.n_buildings(0.001))):
        ours = str(tmp_path / f"{name}.parquet")
        inputs.write_parquet(make(n, 42), ours)
        assert _sha(ours) == _sha(fx.ensure_fixture(name, 0.001)), name


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    from osm_data_3d_tiles_spark.session import get_spark

    s = get_spark(app_name="perfbench-selfcheck", master="local[2]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture()
def small(tmp_path, monkeypatch, spark):
    """Runner over a small seed-7 input of a workload, in a scratch WORK."""
    monkeypatch.setattr(run, "WORK", str(tmp_path))
    monkeypatch.setattr(run, "MASTER", "local[2]")
    for k, v in SMALL.items():
        monkeypatch.setitem(run.WORKLOADS, k, v)

    def make(workload):
        inp = run.prepare(workload, 7)
        monkeypatch.setenv("SPARK_GRAFT_FIXTURE_DIR", inp["dir"])
        return run.Runner(workload, inp)

    return make


def test_oracle_agrees_with_engine(small):
    flag = small("flagship_small")
    assert len(flag.inp["expected"]) > 0
    flag.command()
    seed = small("seed3d")
    seed.command()
    assert (flag.attempted, flag.failed, seed.attempted, seed.failed) == (1, 0, 1, 0), \
        flag.problems + seed.problems


def _planting(monkeypatch, plant):
    """cli.main that runs the real command, then corrupts its output."""
    from osm_data_3d_tiles_spark import cli

    real = cli.main

    def main(argv):
        rc = real(argv)
        plant(argv[argv.index("--workdir" if "--workdir" in argv else "--out") + 1])
        return rc

    monkeypatch.setattr(cli, "main", main)


def test_planted_wrong_join_row_fails(small, monkeypatch):
    def plant(workdir):
        path = os.path.join(workdir, "join_rows")
        t = pq.read_table(path)
        ids = t.column("osm_id").to_pylist()
        ids[0] += 1
        shutil.rmtree(path)
        os.makedirs(path)
        pq.write_table(t.set_column(t.schema.get_field_index("osm_id"), "osm_id",
                                    pa.array(ids, t.schema.field("osm_id").type)),
                       os.path.join(path, "part-0.parquet"))

    _planting(monkeypatch, plant)
    r = small("flagship_small")
    r.command()
    assert (r.attempted, r.failed) == (1, 1)
    assert any("join rows differ" in p for p in r.problems)


def test_truncated_b3dm_fails(small, monkeypatch):
    def plant(out):
        d = os.path.join(out, "b3dm")
        path = os.path.join(d, sorted(os.listdir(d))[0])
        with open(path, "r+b") as f:
            f.truncate(os.path.getsize(path) // 2)

    _planting(monkeypatch, plant)
    r = small("seed3d")
    r.command()
    assert (r.attempted, r.failed) == (1, 1)


def test_python_time_is_per_layer(spark):
    """Two chained Python layers: the second, which does no work, must not
    report the first one's Python time."""

    def slow(batches):
        for pdf in batches:
            time.sleep(0.5)
            yield pdf

    def fast(batches):
        yield from batches

    spans = tr.Spans()
    a = tr.profile(spark.range(0, 100, 1, 1).mapInPandas(slow, "id long"), spans, "a")
    b = tr.profile(a["df"].mapInPandas(fast, "id long"), spans, "b")
    pa_s = tr.python_counters(a["nodes"])["python_s"]
    pb_s = tr.python_counters(b["nodes"])["python_s"]
    assert a["rows"] == b["rows"] == 100
    assert 0.4 <= pa_s < 5.0, pa_s
    assert pb_s < 0.4, pb_s
    spark.catalog.clearCache()


def test_job_counter_skips_reused_stages(spark):
    sc = spark.sparkContext
    with tr.JobCounter(sc, "perfbench-selfcheck") as c:
        rdd = sc.parallelize(range(100), 2).map(lambda x: (x % 3, 1)).reduceByKey(lambda a, b: a + b, 2)
        rdd.count()
        rdd.count()  # reads the first job's shuffle output: its map stage is skipped
    assert c.counts() == {"spark_jobs": 2, "stages": 3, "tasks": 6, "failed_tasks": 0}


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_layer_metrics_match_benchmark_json():
    import layers

    assert [(m["name"], m["unit"]) for m in _benchmark()["per_layer"]] == layers.METRICS


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_record_names_every_metric(workload, trace):
    bench = _benchmark()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=200,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    rec = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(rec) == {"correct", "attempted", "failed", "metrics"}
    assert rec["correct"] and rec["failed"] == 0 and rec["attempted"] >= 1
    want = bench["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in rec["metrics"].items()} == {m["name"]: m["unit"] for m in want}


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "seed3d", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0 and p.stdout.strip() == ""
