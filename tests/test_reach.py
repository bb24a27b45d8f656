"""Every package definition that no real entry point reaches is classified,
and every package option is varied by some call.

`scripts/reach.py` walks the source with `ast` from the program's roots (the
driver contract, the CLI, `bench.py`, `perfbench/` and `scripts/`) and lists
each top-level `def`/`class` and module-level constant of the package they
do not reach.
`scripts/reach_allowlist.txt` must name every listed definition as
`reference`, and every entry there must still be listed, so unreached code
cannot come back, or linger, unnoticed. It also lists each parameter with a
default that no call sets to another value: such an option must be a
constant."""

import importlib.util
import shutil
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
_spec = importlib.util.spec_from_file_location("reach", ROOT / "scripts" / "reach.py")
reach = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(reach)


def test_unreached_definitions_match_the_allowlist():
    listed, missing, stale = reach.check()
    assert "osm_data_3d_tiles_spark.operators.knn.knn_bruteforce" in listed  # the walk ran
    assert not missing, f"unreached and not on {reach.ALLOWLIST}: {missing}"
    assert not stale, f"on {reach.ALLOWLIST} but reached or gone: {stale}"


def _plant(tmp_path, source: str, test_source: str = "") -> list[str]:
    """Copy the repo's sources to `tmp_path`, append `source` to
    `operators/ownership.py` (and `test_source` to a new test module) and
    return what the audit then misses."""
    for part in ("osm_data_3d_tiles_spark", "tests", "perfbench", "scripts"):
        shutil.copytree(ROOT / part, tmp_path / part, ignore=shutil.ignore_patterns("__pycache__"))
    for name in ("bench.py", "__spark_entry__.py"):
        shutil.copy(ROOT / name, tmp_path / name)
    with open(tmp_path / "osm_data_3d_tiles_spark" / "operators" / "ownership.py", "a") as f:
        f.write(source)
    (tmp_path / "tests" / "test_planted.py").write_text(test_source)
    _, missing, stale = reach.check(tmp_path)
    assert not stale
    return missing


def test_a_planted_unreached_function_is_caught(tmp_path):
    missing = _plant(tmp_path, "\n\ndef planted_unreached():\n    return owner_tiles\n")
    assert missing == ["osm_data_3d_tiles_spark.operators.ownership.planted_unreached"]


def test_a_planted_unreached_constant_is_caught(tmp_path):
    # the assignment runs on import and reads a reached name; binding
    # PLANTED_LIMIT still reaches nothing, so the audit must list it
    missing = _plant(tmp_path, "\n\nPLANTED_LIMIT: int = len(owner_tiles.__name__)\n")
    assert missing == ["osm_data_3d_tiles_spark.operators.ownership.PLANTED_LIMIT"]


def test_only_reference_entries_are_admitted(tmp_path):
    assert reach.CLASSES == ("reference",)
    (tmp_path / "scripts").mkdir()
    (tmp_path / reach.ALLOWLIST).write_text(
        "osm_data_3d_tiles_spark.functions.morton.morton_decode | dead: queued | a later change\n"
    )
    with pytest.raises(ValueError, match="reach_allowlist.txt:1"):
        reach.read_allowlist(tmp_path)


def test_no_option_is_unset():
    assert reach.unset_options() == []


_OPTION = "\n\ndef planted_option(rows, limit=3):\n    return rows[:limit]\n"
_PLANTED = "osm_data_3d_tiles_spark.operators.ownership.planted_option(limit)"


def test_a_planted_option_no_call_sets_is_caught(tmp_path):
    _plant(tmp_path, _OPTION + "\n\ndef planted_caller():\n    return planted_option([])\n")
    assert reach.unset_options(tmp_path) == [_PLANTED]


def test_a_planted_option_every_call_sets_to_its_default_is_caught(tmp_path):
    calls = "planted_option([], limit=3) + planted_option([], 3)"
    _plant(tmp_path, _OPTION + f"\n\ndef planted_caller():\n    return {calls}\n")
    assert reach.unset_options(tmp_path) == [_PLANTED]


def test_a_planted_option_a_test_varies_is_admitted(tmp_path):
    test = (
        "from osm_data_3d_tiles_spark.operators.ownership import planted_option\n\n\n"
        "def test_planted():\n    assert planted_option([1, 2], limit=1) == [1]\n"
    )
    _plant(tmp_path, _OPTION, test)
    assert reach.unset_options(tmp_path) == []
