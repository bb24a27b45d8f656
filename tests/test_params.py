"""Height-kernel table tests: the Spark-native getBuildingParams expressions vs an
independent Python oracle that mirrors the JS semantics literal-by-literal
(/root/reference/src/building/building-params.ts:41-147)."""

import math

import pytest
from pyspark.sql import types as T

from osm_data_3d_tiles_spark.functions.params import with_building_params

UNDEF = None  # SQL NULL plays JS undefined


def js_round(x):
    return math.floor(x + 0.5)


def oracle_params(p):
    """Python oracle of getBuildingParams (heights subset + windows/foundation)."""
    is_roof = p.get("building_type") == "roof"
    has_foundation = (
        not is_roof
        and p.get("levels") is None
        and p.get("min_level") is None
        and p.get("height") is None
        and p.get("min_height") is None
    )
    # camelCase roofType absent in these cases → type 'flat'
    roof_type = "flat"
    rl = p.get("roof_levels")
    if rl is not None and rl <= 0:
        roof_levels = 0.6
    else:
        roof_levels = rl if rl is not None else (0.0 if roof_type == "flat" else 1.0)
    roof_height = p.get("roof_height") if p.get("roof_height") is not None else roof_levels * 4.0

    min_level = p.get("min_level")
    height = p.get("height")
    levels = p.get("levels")
    min_height = p.get("min_height")

    if height is not None:
        roof_height = min(roof_height, height - (min_height if min_height is not None else 0.0))

    if height is None and levels is None:
        levels = min_level if min_level is not None else 1.0
        height = levels * 4.0 + roof_height
    elif height is None:
        height = levels * 4.0 + roof_height
    elif levels is None:
        levels = max(1.0, js_round((height - roof_height) / 4.0))

    if min_level is None:
        if min_height is not None:
            min_level = min(levels - 1.0, js_round(min_height / 4.0))
        else:
            min_level = 0.0
    if min_height is None:
        min_height = min(min_level * 4.0, height)

    windows = p.get("windows")
    if windows is None:
        windows = p.get("building_type") not in {
            "garage", "garages", "greenhouse", "storage_tank", "bunker", "silo",
            "stadium", "ship", "castle", "service", "digester", "water_tower", "shed",
            "ger", "barn", "slurry_tank", "container", "carport",
        }
    if height - min_height - roof_height < 2:
        windows = False

    return {
        "building_levels": levels - min_level,
        "building_height": height,
        "building_min_height": (height - roof_height) if is_roof else min_height,
        "building_roof_height": roof_height,
        "building_windows": windows,
        "building_foundation": has_foundation,
    }


MATRIX = [
    # (building_type, height, levels, min_height, min_level, roof_levels, roof_height, windows)
    ("house", None, None, None, None, None, None, None),          # all defaults
    ("house", 12.0, None, None, None, None, None, None),          # height only
    ("house", None, 3.0, None, None, None, None, None),           # levels only
    ("house", 20.0, 5.0, None, None, None, None, None),           # both
    ("house", 12.0, None, 3.0, None, None, None, None),           # min_height
    ("house", 12.0, None, None, 1.0, None, None, None),           # min_level
    ("house", None, None, None, 2.0, None, None, None),           # min_level only
    ("house", 12.0, None, None, None, 0.0, None, None),           # roof_levels = 0 → 0.6
    ("house", 12.0, None, None, None, -1.0, None, None),          # negative → 0.6
    ("house", 12.0, None, None, None, 2.0, None, None),           # roof_levels = 2
    ("house", 12.0, None, None, None, None, 3.5, None),           # roof_height
    ("house", 2.0, None, None, None, None, 5.0, None),            # roofHeight clamp to height
    ("house", 10.0, None, 9.0, None, None, 5.0, None),            # clamp with min_height
    ("roof", 8.0, None, None, None, None, 2.0, None),             # isRoof min height
    ("garage", 8.0, None, None, None, None, None, None),          # windowless type
    ("garage", 8.0, None, None, None, None, None, True),          # explicit windows tag
    ("house", 3.0, None, None, None, None, None, None),           # short → windows off
    ("house", 5.0, 1.0, 4.8, None, None, None, None),             # min_level from min_height
]


SCHEMA = T.StructType(
    [
        T.StructField("case_id", T.IntegerType()),
        T.StructField("building_type", T.StringType()),
        T.StructField("height", T.DoubleType()),
        T.StructField("levels", T.DoubleType()),
        T.StructField("min_height", T.DoubleType()),
        T.StructField("min_level", T.DoubleType()),
        T.StructField("roof_levels", T.DoubleType()),
        T.StructField("roof_height", T.DoubleType()),
        T.StructField("windows", T.BooleanType()),
    ]
)


def test_height_kernel_matrix(spark):
    rows = [(i, *case) for i, case in enumerate(MATRIX)]
    df = spark.createDataFrame(rows, SCHEMA)
    out = with_building_params(df).toPandas().set_index("case_id")
    for i, case in enumerate(MATRIX):
        p = dict(
            zip(
                ["building_type", "height", "levels", "min_height", "min_level",
                 "roof_levels", "roof_height", "windows"],
                case,
            )
        )
        want = oracle_params(p)
        got = out.loc[i]
        for k, v in want.items():
            if isinstance(v, float):
                assert got[k] == pytest.approx(v), f"case {i} {k}: {got[k]} != {v} ({p})"
            else:
                assert bool(got[k]) == bool(v), f"case {i} {k}: {got[k]} != {v} ({p})"


def test_roof_params_camelcase_quirk(spark):
    """snake_case roof_type must NOT drive the roof type (the reference reads
    camelCase keys that MVT never supplies → flat default); camelCase roofType
    does drive it."""
    schema = T.StructType(
        [
            T.StructField("case_id", T.IntegerType()),
            T.StructField("building_type", T.StringType()),
            T.StructField("height", T.DoubleType()),
            T.StructField("levels", T.DoubleType()),
            T.StructField("min_height", T.DoubleType()),
            T.StructField("min_level", T.DoubleType()),
            T.StructField("roof_levels", T.DoubleType()),
            T.StructField("roof_height", T.DoubleType()),
            T.StructField("roof_type", T.StringType()),
            T.StructField("roofType", T.StringType()),
            T.StructField("roofMaterial", T.StringType()),
        ]
    )
    rows = [
        (0, "house", 12.0, None, None, None, None, None, "gabled", None, None),
        (1, "house", 12.0, None, None, None, None, None, None, "gabled", None),
        (2, "house", 12.0, None, None, None, None, None, None, None, "copper"),
        (3, "house", 12.0, None, None, None, None, None, None, "quadruple_saltbox", "slate"),
    ]
    df = spark.createDataFrame(rows, schema)
    out = with_building_params(df).toPandas().set_index("case_id")
    # snake_case ignored → flat + default material + white color
    assert out.loc[0, "building_roof_type"] == "flat"
    assert out.loc[0, "building_roof_material"] == "default"
    assert out.loc[0, "building_roof_color"] == 0xFFFFFF
    # camelCase drives the lookup
    assert out.loc[1, "building_roof_type"] == "gabled"
    assert out.loc[1, "building_roof_material"] == "concrete"  # noDefault forces it
    assert out.loc[1, "building_roof_color"] == 0xBBBBBB
    assert out.loc[2, "building_roof_material"] == "metal"
    assert out.loc[2, "building_roof_color"] == 0xA3CABD  # copper special case
    assert out.loc[3, "building_roof_type"] == "quadrupleSaltbox"
    assert out.loc[3, "building_roof_color"] == 0x8C8C97  # slate special case


def test_facade_params(spark):
    schema = T.StructType(
        [
            T.StructField("case_id", T.IntegerType()),
            T.StructField("building_type", T.StringType()),
            T.StructField("height", T.DoubleType()),
            T.StructField("levels", T.DoubleType()),
            T.StructField("min_height", T.DoubleType()),
            T.StructField("min_level", T.DoubleType()),
            T.StructField("roof_levels", T.DoubleType()),
            T.StructField("roof_height", T.DoubleType()),
            T.StructField("material", T.StringType()),
            T.StructField("color", T.LongType()),
        ]
    )
    rows = [
        (0, "house", 10.0, None, None, None, None, None, "brick", None),
        (1, "house", 10.0, None, None, None, None, None, "concrete", None),
        (2, "house", 10.0, None, None, None, None, None, None, 0x123456),
        (3, "house", 10.0, None, None, None, None, None, "unknown_material", None),
    ]
    out = with_building_params(spark.createDataFrame(rows, schema)).toPandas().set_index("case_id")
    assert out.loc[0, "building_facade_material"] == "brick"
    assert out.loc[0, "building_facade_color"] == 0x8C4834
    assert out.loc[1, "building_facade_material"] == "plaster"
    assert out.loc[1, "building_facade_color"] == 0xDDDDDD
    assert out.loc[2, "building_facade_color"] == 0x123456
    assert out.loc[3, "building_facade_material"] == "plaster"
    assert out.loc[3, "building_facade_color"] == 0xFFFFFF


# with_building_params' derived columns, as (name, type, nullable), in order
DERIVED_SCHEMA = [
    ("label", "string", True),
    ("building_levels", "double", True),
    ("building_height", "double", True),
    ("building_min_height", "double", True),
    ("building_roof_height", "double", False),
    ("building_roof_type", "string", False),
    ("building_roof_orientation", "string", True),
    ("building_roof_direction", "double", True),
    ("building_facade_material", "string", False),
    ("building_facade_color", "bigint", False),
    ("building_roof_material", "string", False),
    ("building_roof_color", "bigint", True),
    ("building_windows", "boolean", True),
    ("building_foundation", "boolean", False),
]


def _fields(schema):
    return [(f.name, f.dataType.simpleString(), f.nullable) for f in schema]


def _fixture_buildings(spark):
    from pyspark.sql import functions as F

    from osm_data_3d_tiles_spark.sources import fixtures as fx

    return fx.load_fixture(spark, "buildings", 0.001).filter(F.col("layer") == "buildings")


def test_output_schema_pinned(spark):
    """The input columns, unchanged, then the derived ones: names, order,
    types and nullability; the per-level helper columns do not leak."""
    blds = _fixture_buildings(spark)
    assert _fields(with_building_params(blds).schema) == _fields(blds.schema) + DERIVED_SCHEMA


def test_batch_tables_take_derived_params_as_they_are(spark):
    """batch_tables derives the params itself from raw input, or takes them
    from a frame that already has them: the two tables are equal."""
    from osm_data_3d_tiles_spark.operators.batch_table import batch_tables
    from osm_data_3d_tiles_spark.operators.cells import building_cells
    from osm_data_3d_tiles_spark.operators.ownership import owner_tiles

    blds = _fixture_buildings(spark)
    owners = owner_tiles(building_cells(blds)).select("osm_id", "tile_key")
    assigned = blds.join(owners, "osm_id")
    raw = batch_tables(assigned)
    derived = batch_tables(with_building_params(assigned))
    assert raw.schema == derived.schema

    def rows(df):
        return sorted((r.asDict(recursive=True) for r in df.collect()), key=lambda d: d["tile_key"])

    want = rows(raw)
    assert want and rows(derived) == want
