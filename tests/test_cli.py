"""CLI surface tests: argparse contract, the CLI commands, and a
spark-submit smoke of the `--py-files` archive (scripts/package.sh +
scripts/submit_job.py) run from a foreign cwd with no PYTHONPATH."""

from __future__ import annotations

import glob
import json
import os
import subprocess

import pyarrow.parquet as pq
import pytest
from test_entry_contract import SF_DIR

from osm_data_3d_tiles_spark.cli import main

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_generate_tileset(tmp_path, capsys):
    rc = main(["generate-tileset", "--out", str(tmp_path)])
    assert rc == 0
    out = json.loads(capsys.readouterr().out)
    assert os.path.exists(out["tileset"])
    with open(out["tileset"]) as f:
        root = json.load(f)
    assert root["root"]["refine"] == "ADD"
    assert os.path.isdir(tmp_path / "subtiles")


def test_generate_tileset_ecef(tmp_path, capsys):
    rc = main(["generate-tileset", "--out", str(tmp_path), "--mode", "ecef"])
    assert rc == 0
    with open(tmp_path / "tileset.json") as f:
        root = json.load(f)
    assert "region" in root["root"]["boundingVolume"]


def test_generate_tileset_custombox(tmp_path, capsys):
    rc = main(["generate-tileset", "--out", str(tmp_path), "--mode", "custombox"])
    assert rc == 0
    with open(tmp_path / "tileset.json") as f:
        root = json.load(f)
    assert "box" in root["root"]["boundingVolume"]


def test_atlas_command(tmp_path, capsys):
    out_png = str(tmp_path / "diffuse.png")
    rc = main(["atlas", "--out", out_png])
    assert rc == 0
    info = json.loads(capsys.readouterr().out)
    assert info["bytes"] > 1000
    with open(out_png, "rb") as f:
        assert f.read(8) == b"\x89PNG\r\n\x1a\n"


def test_ingest_mvt_command(spark, tmp_path, capsys):
    fixture = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "mvt")
    out_dir = str(tmp_path / "buildings_parquet")
    rc = main(["ingest-mvt", "--src", fixture, "--out", out_dir])
    assert rc == 0
    info = json.loads(capsys.readouterr().out)
    assert info["buildings_written"] == 2
    got = spark.read.parquet(out_dir)
    assert sorted(r.osm_id for r in got.select("osm_id").collect()) == [900001, 900002]


def test_flagship_command_counts_equal_snapshots(spark, tmp_path, capsys):
    """The printed counts are read from the snapshots' parquet footers; each
    equals a Spark count of its snapshot."""
    wd = str(tmp_path / "wd")
    rc = main(["--shuffle-partitions", "8", "flagship", "--sf", "0.001", "--workdir", wd])
    assert rc == 0
    got = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    for key, snapshot in (("join_rows", "join_rows"), ("owned_buildings", "owners"),
                          ("tiles_with_docs", "tile_doc_counts")):
        assert got[key] == spark.read.parquet(os.path.join(wd, snapshot)).count() > 0, key


def test_missing_subcommand_errors():
    with pytest.raises(SystemExit):
        main([])


def test_bad_mode_errors(tmp_path):
    with pytest.raises(SystemExit):
        main(["generate-tileset", "--out", str(tmp_path), "--mode", "nope"])


def test_compact_command(spark, tmp_path, capsys):
    src = str(tmp_path / "frag")
    out = str(tmp_path / "compacted")
    spark.range(0, 5000).selectExpr("id", "id % 7 as v").repartition(16) \
        .write.parquet(src)
    rc = main(["compact", "--src", src, "--out", out, "--target-mb", "512",
               "--sort-by", "id"])
    assert rc == 0
    got = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert got["files"] == 1
    assert spark.read.parquet(out).count() == 5000


def test_cluster_layout_command(spark, tmp_path, capsys):
    src = str(tmp_path / "cells_src")
    out = str(tmp_path / "cells_clustered")
    # the low bits are a permutation of the ids, so the input is not already
    # in cell order inside a prefix and only the layout's own sort orders it
    spark.range(0, 4000).selectExpr(
        "shiftleft(id % 8, 48) | (id * 7919 % 4000) as cell", "id as doc_id"
    ).write.parquet(src)
    rc = main(["cluster-layout", "--src", src, "--out", out,
               "--cell-col", "cell", "--prefix-shift", "48"])
    assert rc == 0
    got = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert got["rows"] == 4000
    assert len(glob.glob(f"{out}/cell_prefix=*")) == 8
    # a plain path read gives back exactly the input rows
    rows = lambda df: {(r.cell, r.doc_id) for r in df.select("cell", "doc_id").collect()}
    assert rows(spark.read.parquet(out)) == rows(spark.read.parquet(src))
    # row-group pruning on `cell` needs each part file sorted by it
    parts = glob.glob(f"{out}/cell_prefix=*/*.parquet")
    assert parts
    for part in parts:
        cells = pq.read_table(part, columns=["cell"]).column("cell").to_pylist()
        assert cells == sorted(cells), part


def test_sql_command(spark, capsys):
    rc = main(["sql", "--sf-dir", "/root/testdata/sf0.001",
               "--query",
               "SELECT lang, COUNT(*) AS n, "
               "SUM(token_count(text)) AS toks FROM documents GROUP BY lang"])
    assert rc == 0
    got = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert got["rows"] and all("lang" in r and r["toks"] > 0 for r in got["rows"])


def test_sql_command_requires_exactly_one_source(capsys):
    assert main(["sql", "--sf-dir", "/root/testdata/sf0.001"]) == 2
    assert "exactly one of" in capsys.readouterr().err


SEED_DIGESTS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "golden", "seed_sf0.001_sha256.json"
)


def test_seed_command_output_bytes_golden(spark, tmp_path, capsys):
    """`seed --sf 0.001` writes exactly the pinned bytes: the sha256 of every
    b3dm tile, of tileset.json and of every subtile JSON. A change to the 3D
    build, the batch tables or the sink that moves one byte fails here."""
    import hashlib

    out = str(tmp_path / "export")
    assert main(["seed", "--out", out, "--sf", "0.001"]) == 0
    printed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    got = {}
    for root, _, names in os.walk(out):
        for name in names:
            path = os.path.join(root, name)
            with open(path, "rb") as f:
                got[os.path.relpath(path, out)] = hashlib.sha256(f.read()).hexdigest()
    with open(SEED_DIGESTS) as f:
        want = json.load(f)
    assert got == want
    assert printed["tiles_written"] == sum(p.startswith("b3dm/") for p in want)


def test_spark_submit_py_files_smoke(tmp_path):
    """The submitted app and its workers import the package from the archive
    alone; the workers' daemon must then stay `pyspark.daemon`, since a daemon
    module inside the archive cannot be imported at daemon start-up."""
    archive = str(tmp_path / "osm_data_3d_tiles_spark.zip")
    subprocess.run([os.path.join(ROOT, "scripts", "package.sh"), archive], check=True,
                   capture_output=True)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    proc = subprocess.run(
        ["spark-submit", "--master", "local[2]", "--py-files", archive,
         os.path.join(ROOT, "scripts", "submit_job.py"), "sql",
         "--sf-dir", SF_DIR,
         "--query", "SELECT SUM(token_count(text)) AS toks FROM documents"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["rows"] == [{"toks": 27939}]
