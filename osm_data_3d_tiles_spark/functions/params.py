"""Building-parameter derivation kernels — the reference's `getBuildingParams`
family re-expressed as **native Spark Column expressions** (`F.when` chains, no UDF),
so Catalyst folds them into whole-stage codegen and the identical logic can be stated
as ANSI SQL for the DuckDB oracle.

Semantics sources (all /root/reference/):
- src/building/building-params.ts:41-147  (height/levels kernel, LEVEL_HEIGHT=4)
- src/building/building-params.ts:8-37    (isBuildingHasWindows denylist)
- src/building/roof-params.ts:4-125       (roof type/material/color lookups)
- src/building/facade-params.ts:1-33      (facade material lookup)
- b3dmGenerator.ts:223-240                (buildOpenStreetMapUrl)

JS quirks replicated deliberately (SURVEY.md §1.4):
- `getRoofParams` reads camelCase keys (roofType/roofMaterial/roofColor/defaultRoof/
  buildingType) that the MVT pipeline supplies in snake_case, so the usual outcome is
  the flat/default path. The engine reads the *camelCase* columns when present in the
  schema and treats a missing column as all-null (undefined).
- `roof_levels <= 0 ? 0.6 : roof_levels ?? default`: SQL `NULL <= 0` is NULL → falsy,
  matching JS `undefined <= 0 === false`. (JS `null <= 0` would be true, but MVT
  missing properties are undefined, never null.)
- JS Math.round is round-half-toward-+∞ → implemented as floor(x + 0.5), NOT Spark's
  HALF_UP round.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

LEVEL_HEIGHT = 4.0  # building-params.ts:6

# raw property columns the derivation consumes (the MVT/BuildingProperties
# surface; camelCase tag columns are optional — a missing column reads as NULL)
PROPERTY_INPUT_COLS = [
    "building_type", "height", "levels", "min_height", "min_level",
    "roof_levels", "roof_height",
]

# building-params.ts:8-27
BUILDINGS_WITHOUT_WINDOWS = [
    "garage", "garages", "greenhouse", "storage_tank", "bunker", "silo", "stadium",
    "ship", "castle", "service", "digester", "water_tower", "shed", "ger", "barn",
    "slurry_tank", "container", "carport",
]

# roof-params.ts:26-40 (note 'stadium' is listed twice in the reference; a set is
# equivalent for the membership test)
DEFAULT_ROOF_EXCEPTIONS = [
    "roof", "stadium", "houseboat", "castle", "greenhouse", "storage_tank", "silo",
    "ship", "bridge", "digester", "water_tower", "shed",
]

# roof-params.ts:4-17
ROOF_TYPE_LOOKUP = {
    "flat": "flat", "hipped": "hipped", "gabled": "gabled", "gambrel": "gambrel",
    "pyramidal": "pyramidal", "onion": "onion", "dome": "dome", "round": "round",
    "skillion": "skillion", "mansard": "mansard",
    "quadruple_saltbox": "quadrupleSaltbox", "saltbox": "saltbox",
}

# roof-params.ts:53-72
ROOF_MATERIAL_LOOKUP = {
    "tile": "tiles", "tiles": "tiles", "roof_tiles": "tiles", "slate": "tiles",
    "metal": "metal", "metal_sheet": "metal", "metal sheet": "metal", "tin": "metal",
    "copper": "metal", "zinc": "metal", "concrete": "concrete", "asphalt": "concrete",
    "eternit": "eternit", "asbestos": "eternit", "thatch": "thatch", "grass": "grass",
    "glass": "glass", "tar_paper": "tar",
}

# facade-params.ts:3-17
FACADE_LOOKUP = {
    "brick": ("brick", 0x8C4834),
    "cement_block": ("cementBlock", 0xFFFFFF),
    "block": ("cementBlock", 0xFFFFFF),
    "wood": ("wood", 0xFFFFFF),
    "plaster": ("plaster", 0xFFFFFF),
    "plastered": ("plaster", 0xFFFFFF),
    "concrete": ("plaster", 0xDDDDDD),
    "hard": ("plaster", 0xDDDDDD),
    "glass": ("glass", 0xFFFFFF),
    "mirror": ("glass", 0xFFFFFF),
}
FACADE_DEFAULT = ("plaster", 0xFFFFFF)  # lookup.plaster fallback, facade-params.ts:26


def js_round(col: Column) -> Column:
    """JS Math.round = round half toward +infinity."""
    return F.floor(col + F.lit(0.5))


def _col_or_null(df_columns: list[str], name: str) -> Column:
    """Missing column ≡ JS `undefined` ≡ SQL NULL."""
    return F.col(name) if name in df_columns else F.lit(None)


def _map_lookup(col: Column, mapping: dict[str, str], fallback: Column) -> Column:
    expr = fallback
    # build the when-chain in reverse so first key wins
    for k, v in reversed(list(mapping.items())):
        expr = F.when(col == F.lit(k), F.lit(v)).otherwise(expr)
    return expr


def has_building_params(df: DataFrame) -> bool:
    """True when df already carries the with_building_params columns."""
    return "building_height" in df.columns


def with_building_params(df: DataFrame) -> DataFrame:
    """Append the derived building-parameter columns to a buildings DataFrame.

    Output columns (names mirror the reference's return object,
    building-params.ts:123-146, snake_cased):

    label, building_levels, building_height, building_min_height, building_roof_height,
    building_roof_type, building_roof_orientation, building_roof_direction,
    building_facade_material, building_facade_color, building_roof_material,
    building_roof_color, building_windows, building_foundation.

    Plan shape: one projection per dependency level. Every intermediate that
    later expressions use (roof type, roof height, levels, height, …) is a
    helper column of its own level, referenced by name, so no CASE tree is
    copied into the trees that depend on it; the helpers are dropped at the
    end.
    """
    cols = df.columns

    def h(name: str) -> Column:
        """A helper column of an earlier level."""
        return F.col(f"__bp_{name}")

    is_roof = F.coalesce(F.col("building_type") == F.lit("roof"), F.lit(False))
    has_foundation = (
        (~is_roof)
        & F.col("levels").isNull()
        & F.col("min_level").isNull()
        & F.col("height").isNull()
        & F.col("min_height").isNull()
    )

    # --- getRoofParams (roof-params.ts:81-125): reads camelCase tag columns --------
    roof_type_tag = _col_or_null(cols, "roofType")
    roof_material_tag = _col_or_null(cols, "roofMaterial")
    roof_color_tag = _col_or_null(cols, "roofColor")
    default_roof_tag = _col_or_null(cols, "defaultRoof")
    building_type_camel = _col_or_null(cols, "buildingType")

    supports_default_roof = F.when(
        default_roof_tag.isNotNull(), default_roof_tag.cast("boolean")
    ).otherwise(~F.coalesce(building_type_camel.isin(DEFAULT_ROOF_EXCEPTIONS), F.lit(False)))
    no_default = (~supports_default_roof) | (h("roof_type") != F.lit("flat"))

    roof_material = F.when(
        (h("roof_color0").isNotNull() | no_default) & (h("roof_material0") == F.lit("default")),
        F.lit("concrete"),
    ).otherwise(h("roof_material0"))
    roof_color = F.when(h("roof_color0").isNotNull(), h("roof_color0")).otherwise(
        F.when(h("roof_material") == F.lit("concrete"), F.lit(0xBBBBBB))
        .when(
            h("roof_material") == F.lit("metal"),
            F.when(roof_material_tag == F.lit("copper"), F.lit(0xA3CABD)).otherwise(F.lit(0xC3D2DD)),
        )
        .when(
            h("roof_material") == F.lit("tiles"),
            F.when(roof_material_tag == F.lit("slate"), F.lit(0x8C8C97)).otherwise(F.lit(0xCB7D64)),
        )
        .otherwise(F.lit(0xFFFFFF))
    )

    # --- getRoofOrientation (roof-params.ts:127-132) --------------------------------
    ro = _col_or_null(cols, "roof_orientation")
    roof_orientation = F.when(ro.isin("along", "across"), ro).otherwise(F.lit(None).cast("string"))

    # --- height kernel (building-params.ts:78-121) -----------------------------------
    # roofLevels = roof_levels <= 0 ? 0.6 : roof_levels ?? (type flat ? 0 : 1)
    roof_levels = F.when(F.col("roof_levels") <= 0, F.lit(0.6)).otherwise(
        F.coalesce(
            F.col("roof_levels").cast("double"),
            F.when(h("roof_type") == F.lit("flat"), F.lit(0.0)).otherwise(F.lit(1.0)),
        )
    )
    roof_height0 = F.coalesce(F.col("roof_height").cast("double"), roof_levels * F.lit(LEVEL_HEIGHT))
    height_in = F.col("height").cast("double")
    levels_in = F.col("levels").cast("double")
    min_height_in = F.col("min_height").cast("double")
    min_level_in = F.col("min_level").cast("double")

    roof_height = F.when(
        height_in.isNotNull(),
        F.least(h("roof_height0"), height_in - F.coalesce(min_height_in, F.lit(0.0))),
    ).otherwise(h("roof_height0"))

    # levels/height resolution branches (building-params.ts:94-101)
    levels = F.when(
        height_in.isNull() & levels_in.isNull(),
        F.coalesce(min_level_in, F.lit(1.0)),
    ).when(
        height_in.isNull(), levels_in
    ).when(
        levels_in.isNull(),
        F.greatest(F.lit(1.0), js_round((height_in - h("roof_height")) / F.lit(LEVEL_HEIGHT)).cast("double")),
    ).otherwise(levels_in)

    height = F.when(
        height_in.isNull(), h("levels") * F.lit(LEVEL_HEIGHT) + h("roof_height")
    ).otherwise(height_in)

    # minLevel (building-params.ts:103-109)
    min_level = F.when(
        min_level_in.isNull(),
        F.when(
            min_height_in.isNotNull(),
            F.least(h("levels") - F.lit(1.0), js_round(min_height_in / F.lit(LEVEL_HEIGHT)).cast("double")),
        ).otherwise(F.lit(0.0)),
    ).otherwise(min_level_in)

    # minHeight (building-params.ts:111-113)
    min_height = F.when(
        min_height_in.isNull(), F.least(h("min_level") * F.lit(LEVEL_HEIGHT), h("height"))
    ).otherwise(min_height_in)

    # --- facade params (facade-params.ts) -------------------------------------------
    material_tag = _col_or_null(cols, "material")
    color_tag = _col_or_null(cols, "color")
    facade_material = F.lit(FACADE_DEFAULT[0])
    facade_default_color = F.lit(FACADE_DEFAULT[1])
    for k, (mat, col_default) in reversed(list(FACADE_LOOKUP.items())):
        facade_material = F.when(material_tag == F.lit(k), F.lit(mat)).otherwise(facade_material)
        facade_default_color = F.when(material_tag == F.lit(k), F.lit(col_default)).otherwise(
            facade_default_color
        )
    facade_color = F.coalesce(color_tag.cast("long"), facade_default_color)

    # --- windows (building-params.ts:29-37, 118-121) ---------------------------------
    windows_tag = _col_or_null(cols, "windows")
    windows0 = F.when(windows_tag.isNotNull(), windows_tag.cast("boolean")).otherwise(
        ~F.coalesce(F.col("building_type").isin(BUILDINGS_WITHOUT_WINDOWS), F.lit(False))
    )
    windows = F.when(
        h("height") - h("min_height") - h("roof_height") < F.lit(2.0), F.lit(False)
    ).otherwise(windows0)

    levels_of_helpers = [
        {"roof_type": _map_lookup(roof_type_tag, ROOF_TYPE_LOOKUP, F.lit("flat")),
         "roof_material0": _map_lookup(roof_material_tag, ROOF_MATERIAL_LOOKUP, F.lit("default")),
         "roof_color0": roof_color_tag.cast("long")},
        {"roof_material": roof_material, "roof_height0": roof_height0},
        {"roof_color": roof_color, "roof_height": roof_height},
        {"levels": levels},
        {"height": height, "min_level": min_level},
        {"min_height": min_height},
    ]
    for level in levels_of_helpers:
        df = df.withColumns({f"__bp_{k}": v for k, v in level.items()})
    return df.withColumns({
        "label": _col_or_null(cols, "name"),
        "building_levels": h("levels") - h("min_level"),
        "building_height": h("height"),
        "building_min_height": F.when(is_roof, h("height") - h("roof_height")).otherwise(
            h("min_height")),
        "building_roof_height": h("roof_height"),
        "building_roof_type": h("roof_type"),
        "building_roof_orientation": roof_orientation,
        "building_roof_direction": _col_or_null(cols, "roof_direction").cast("double"),
        "building_facade_material": facade_material,
        "building_facade_color": facade_color,
        "building_roof_material": h("roof_material"),
        "building_roof_color": h("roof_color"),
        "building_windows": windows,
        "building_foundation": has_foundation,
    }).drop(*(f"__bp_{k}" for level in levels_of_helpers for k in level))


def osm_url_col(osm_id: Column, osm_type: Column) -> Column:
    """https://www.openstreetmap.org/{node|way|relation}/{id}, NULL for unknown type.

    Semantics of buildOpenStreetMapUrl, reference b3dmGenerator.ts:223-240.
    """
    ref_type = (
        F.when(osm_type == "node", F.lit("node"))
        .when(osm_type == "way", F.lit("way"))
        .when(osm_type == "relation", F.lit("relation"))
    )
    return F.when(
        ref_type.isNotNull() & osm_id.isNotNull(),
        F.concat(F.lit("https://www.openstreetmap.org/"), ref_type, F.lit("/"), osm_id.cast("string")),
    )


# ---------------------------------------------------------------------------
# ANSI-SQL rendering of the same kernel (for the DuckDB oracle)
# ---------------------------------------------------------------------------

HEIGHT_KERNEL_SQL = """
WITH props AS ({source}),
rp AS (
    SELECT *,
        -- camelCase roofType tag absent => roof type 'flat' => default roof levels 0.0
        CASE WHEN roof_levels <= 0 THEN 0.6
             ELSE COALESCE(CAST(roof_levels AS DOUBLE), 0.0)
        END AS rl
    FROM props
),
rh0 AS (
    SELECT *, COALESCE(CAST(roof_height AS DOUBLE), rl * 4.0) AS roof_h0 FROM rp
),
rh AS (
    SELECT *,
        CASE WHEN height IS NOT NULL
             THEN LEAST(roof_h0, height - COALESCE(min_height, 0.0))
             ELSE roof_h0 END AS roof_h
    FROM rh0
),
lv AS (
    SELECT *,
        CASE WHEN height IS NULL AND levels IS NULL THEN COALESCE(CAST(min_level AS DOUBLE), 1.0)
             WHEN height IS NULL THEN CAST(levels AS DOUBLE)
             WHEN levels IS NULL THEN GREATEST(1.0, FLOOR((height - roof_h) / 4.0 + 0.5))
             ELSE CAST(levels AS DOUBLE) END AS lvls
    FROM rh
),
ht AS (
    SELECT *, CASE WHEN height IS NULL THEN lvls * 4.0 + roof_h ELSE CAST(height AS DOUBLE) END AS hgt
    FROM lv
),
ml AS (
    SELECT *,
        CASE WHEN min_level IS NULL THEN
            CASE WHEN min_height IS NOT NULL THEN LEAST(lvls - 1.0, FLOOR(min_height / 4.0 + 0.5))
                 ELSE 0.0 END
        ELSE CAST(min_level AS DOUBLE) END AS min_lvl
    FROM ht
),
mh AS (
    SELECT *, CASE WHEN min_height IS NULL THEN LEAST(min_lvl * 4.0, hgt)
                   ELSE CAST(min_height AS DOUBLE) END AS min_h
    FROM ml
)
SELECT {id_col},
       lvls - min_lvl AS building_levels,
       hgt AS building_height,
       CASE WHEN building_type = 'roof' THEN hgt - roof_h ELSE min_h END AS building_min_height,
       roof_h AS building_roof_height
FROM mh
"""
