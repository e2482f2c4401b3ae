"""Area hierarchy + area membership edges.

≙ reference geographic machinery: country/state/municipality upserts
(extract.js:785-829), the govLevel switch-FALLTHROUGH area array build
(extract.js:897-982 — city ⊃ region ⊃ country), and the area membership
edge kinds (extract.js:1102-1218).

Input: rows with (entity_id, country_name, region, locality, gov_level)
— nullable columns replace the reference's hasOwnProperty guards (P1).

Outputs:
- `area_nodes(area_id, name, classification, parent_id)` — one row per
  country/state/city referenced (deduped).
- `area_edges(subj, pred, obj)` — entity -> area + area -> parent edges,
  the (page-entity, inArea/partOf, area) triples.

The fallthrough semantics are expressed as a *filtered array build* (X4):
levels = [city?, state?, country?] with nulls dropped — gov_level 'city'
keeps all three, 'region' two, 'country' one; no gov_level falls back to
whichever address fields exist (the else-branch, extract.js:941-982).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ocds_entity_extract_spark.functions.geo import (
    MX_STATE_ROWS,
    mx_state_dim,
    with_country_code,
    with_state_code,
)
from ocds_entity_extract_spark.functions.text import launder, membership_id, simple_name


def infer_institution_regions(
    inst_aliases: DataFrame, spark: SparkSession
) -> DataFrame:
    """(canonical_id, alias_slug) institution rows -> address rows for
    `with_area_ancestors`.

    Web-scale analogue of consuming party.address (reference
    extract.js:897-982): a raw web mention never carries a structured
    address, so the region is inferred from place-suffixed institution
    names ('Secretaría de Salud de Jalisco' -> region Jalisco) via a
    BROADCAST suffix probe against the (tiny) state dim — a 38-row
    nested-loop broadcast join, constant cost per alias at any scale.
    Ambiguous matches resolve to min(state_name) (deterministic).
    """
    dim = mx_state_dim(spark)
    matched = inst_aliases.join(
        F.broadcast(dim),
        inst_aliases["alias_slug"].endswith(
            F.concat(F.lit("-de-"), dim["name_slug"])
        ),
    )
    best = matched.groupBy("canonical_id").agg(F.min("state_name").alias("region"))
    return best.select(
        F.col("canonical_id").alias("entity_id"),
        F.lit("México").alias("country_name"),
        "region",
        F.lit(None).cast("string").alias("locality"),
        F.lit("region").alias("gov_level"),
    )


def area_branch_py(
    inst_alias_pairs: list[tuple[str, str]],
) -> tuple[list[tuple], list[tuple], list[tuple]]:
    """Exact Python twin of the institution-area branch for the
    size-adaptive driver path: `infer_institution_regions` + `area_edges` +
    `area_nodes` restricted to the shapes that branch produces (country
    fixed 'México', locality NULL, gov_level 'region' — so the ancestor
    array is always [state, country]).

    Input: (canonical_id, alias_slug) institution alias pairs (bounded by
    `max_driver_linking`). Returns (addr_rows, node_rows, edge_triples)
    with the same values the Spark branch computes — equality is gated by
    test_build_triples_driver_vs_distributed_linking, which compares the
    full triple set of the two paths. Below the threshold the Spark branch
    is ~10 broadcast-join stages of pure scheduling latency over at most a
    few thousand rows; above it the Spark branch runs unchanged.
    """
    from ocds_entity_extract_spark.functions.text import simple_name_py

    state_dim = [(n, c, simple_name_py(n)) for n, c in MX_STATE_ROWS]

    # infer_institution_regions: suffix probe, min(state_name) per entity
    best: dict[str, str] = {}
    for cid, slug in inst_alias_pairs:
        for state_name, _iso, nslug in state_dim:
            if slug.endswith("-de-" + nslug):
                cur = best.get(cid)
                if cur is None or state_name < cur:
                    best[cid] = state_name
    addr_rows = sorted(
        (cid, "México", region, None, "region") for cid, region in best.items()
    )

    # with_state_code / with_country_code: slug -> ISO code (alias rows
    # included), 'MX-'+slug fallback; country 'México' resolves to code MX
    slug2iso = {nslug: iso for _n, iso, nslug in state_dim}
    country_id = simple_name_py("MX")          # 'mx'
    edge_set: set[tuple[str, str, str]] = set()
    node_agg: dict[str, tuple[str, str, str | None]] = {}
    for cid, _country, region, _loc, _gov in addr_rows:
        sslug = simple_name_py(region)
        state_code = slug2iso.get(sslug, "MX-" + sslug)
        edge_set.add((cid, "inArea", state_code))
        edge_set.add((state_code, "partOf", country_id))
        for area_id, name, classification, parent in (
            (state_code, region, "region", country_id),
            (country_id, "México", "country", None),
        ):
            cur = node_agg.get(area_id)
            if cur is None:
                node_agg[area_id] = (name, classification, parent)
            else:
                node_agg[area_id] = (
                    min(cur[0], name),
                    min(cur[1], classification),
                    cur[2] if parent is None else (
                        parent if cur[2] is None else min(cur[2], parent)
                    ),
                )
    node_rows = sorted(
        (aid, n, c, p) for aid, (n, c, p) in node_agg.items()
    )
    return addr_rows, node_rows, sorted(edge_set)


def _level_rank(col):
    return (
        F.when(col == "city", 3).when(col == "region", 2).when(col == "country", 1)
    )


def with_area_ancestors(
    addrs: DataFrame, spark: SparkSession
) -> DataFrame:
    """Add `areas`: array<struct(area_id, name, classification, parent_id)>
    of the entity's geographic ancestors (innermost first)."""
    df = with_state_code(with_country_code(addrs, spark), spark)

    country_id = simple_name(F.coalesce("country_code", F.lit("xx")))
    state_id = F.col("state_code")
    city_id = F.concat(
        state_id, F.lit("-"), simple_name(launder(F.col("locality")))
    )

    rank = F.coalesce(
        _level_rank(F.col("gov_level")),
        # no gov_level: infer from the most specific address field present
        F.when(F.col("locality").isNotNull(), 3)
        .when(F.col("region").isNotNull(), 2)
        .when(F.col("country_name").isNotNull(), 1),
    )

    city = F.when(
        (rank >= 3) & F.col("locality").isNotNull(),
        F.struct(
            city_id.alias("area_id"),
            F.col("locality").alias("name"),
            F.lit("city").alias("classification"),
            state_id.alias("parent_id"),
        ),
    )
    state = F.when(
        (rank >= 2) & F.col("region").isNotNull(),
        F.struct(
            state_id.alias("area_id"),
            F.col("region").alias("name"),
            F.lit("region").alias("classification"),
            country_id.alias("parent_id"),
        ),
    )
    country = F.when(
        (rank >= 1) & F.col("country_name").isNotNull(),
        F.struct(
            country_id.alias("area_id"),
            F.coalesce("country_name_es", F.col("country_name")).alias("name"),
            F.lit("country").alias("classification"),
            F.lit(None).cast("string").alias("parent_id"),
        ),
    )
    areas = F.filter(F.array(city, state, country), lambda x: x.isNotNull())
    return df.withColumn("areas", areas)


def area_nodes(addrs: DataFrame, spark: SparkSession) -> DataFrame:
    """Deduped area node table (first-wins name per area_id via min)."""
    exploded = (
        with_area_ancestors(addrs, spark)
        .select(F.explode("areas").alias("a"))
        .select("a.area_id", "a.name", "a.classification", "a.parent_id")
    )
    return exploded.groupBy("area_id").agg(
        F.min("name").alias("name"),
        F.min("classification").alias("classification"),
        F.min("parent_id").alias("parent_id"),
    )


def area_edges(addrs: DataFrame, spark: SparkSession) -> DataFrame:
    """Triples: (entity, inArea, innermost area) + (area, partOf, parent).
    Edge ids follow the child_parent concat contract (F4)."""
    w = with_area_ancestors(addrs, spark).filter(F.size("areas") > 0)
    entity_edges = w.select(
        F.col("entity_id").alias("subj"),
        F.lit("inArea").alias("pred"),
        F.element_at("areas", 1)["area_id"].alias("obj"),
    )
    parent_edges = (
        w.select(F.explode("areas").alias("a"))
        .filter(F.col("a.parent_id").isNotNull())
        .select(
            F.col("a.area_id").alias("subj"),
            F.lit("partOf").alias("pred"),
            F.col("a.parent_id").alias("obj"),
        )
    )
    return entity_edges.unionByName(parent_edges).distinct().withColumn(
        "edge_id", membership_id("subj", "obj")
    )
