"""Every package definition that no real entry point reaches is classified.

`scripts/reach.py` walks the source with `ast` from the program's roots (the
driver contract, the CLI, `bench.py`, `perfbench/` and `scripts/`) and lists
each top-level `def`/`class` of the package they do not reach.
`scripts/reach_allowlist.txt` must classify every listed definition, and
every entry there must still be listed, so unreached code cannot come back,
or linger, unnoticed."""

import importlib.util
import shutil
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
_spec = importlib.util.spec_from_file_location("reach", ROOT / "scripts" / "reach.py")
reach = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(reach)


def test_unreached_definitions_match_the_allowlist():
    listed, missing, stale = reach.check()
    assert "osm_data_3d_tiles_spark.operators.knn.knn_bruteforce" in listed  # the walk ran
    assert not missing, f"unreached and not on {reach.ALLOWLIST}: {missing}"
    assert not stale, f"on {reach.ALLOWLIST} but reached or gone: {stale}"


def test_a_planted_unreached_function_is_caught(tmp_path):
    for part in ("osm_data_3d_tiles_spark", "tests", "perfbench", "scripts"):
        shutil.copytree(ROOT / part, tmp_path / part, ignore=shutil.ignore_patterns("__pycache__"))
    for name in ("bench.py", "__spark_entry__.py"):
        shutil.copy(ROOT / name, tmp_path / name)
    with open(tmp_path / "osm_data_3d_tiles_spark" / "operators" / "ownership.py", "a") as f:
        f.write("\n\ndef planted_unreached():\n    return owner_tiles\n")
    _, missing, stale = reach.check(tmp_path)
    assert missing == ["osm_data_3d_tiles_spark.operators.ownership.planted_unreached"]
    assert not stale
