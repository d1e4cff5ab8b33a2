"""Workload definitions shared by the generator, the replay and the runner.

Each GBIF workload fixes the sizes and shares the generator aims at and
the filter configuration the job runs with. What the generator actually
produced is measured afterwards (gen.measure_properties); the figures
here are targets, not results.
"""

# L-shaped (concave) zone. Every vertex sits on a .05 coordinate and every
# edge is axis-parallel, so no point of the one-decimal occurrence grid
# lies within 0.05 of an edge: Spark's ray cast and the DuckDB replay
# cannot disagree on any point.
L_ZONE = [(0.05, 40.05), (20.05, 40.05), (20.05, 50.05), (10.05, 50.05),
          (10.05, 60.05), (0.05, 60.05), (0.05, 40.05)]
L_ZONE_WKT = "POLYGON ((" + ", ".join(f"{x} {y}" for x, y in L_ZONE) + "))"

# Grid boxes (lon0, lon1, lat0, lat1) in tenths of a degree, inclusive,
# that cover the polygon, the part of its bounding box outside it (the
# notch of the L) and a region outside the bounding box.
INSIDE_BOXES = [(1, 200, 401, 500), (1, 100, 501, 600)]
NOTCH_BOX = (101, 200, 501, 600)
OUTSIDE_BOX = (-1800, 1800, -600, 399)

WORKLOADS = {
    "gbif_polygon_species": {
        "kind": "gbif",
        "taxa_rows": 4000,
        "distinct_share": 0.30,
        "passenger_cols": 4,
        # rank mix of the names that resolve exactly
        "name_ranks": {"GENUS": 0.6, "FAMILY": 0.3, "SPECIES": 0.1},
        "families": 500,
        "occurrence_rows": 500_000,
        "taxon_in_zone_share": 0.4,
        "zone": {"geometry": L_ZONE_WKT},
        "resolve_to_rank": "SPECIES",
        "habitat": "TERRESTRIAL",
        "tag": False,
    },
    "gbif_country_tag_wide": {
        "kind": "gbif",
        "taxa_rows": 20000,
        "distinct_share": 0.08,
        "passenger_cols": 60,
        "name_ranks": {"SPECIES": 0.5, "GENUS": 0.35, "FAMILY": 0.15},
        "families": 500,
        "occurrence_rows": 300_000,
        "taxon_in_zone_share": 0.4,
        "zone": {"country": "NO"},
        "resolve_to_rank": None,
        "habitat": None,
        "tag": True,
    },
    "operators_sf01": {
        "kind": "ops",
        # one gate per module family, named by the module directory of the
        # gate's main operator; every gate runs once per pass
        "gates": {
            "x_dedup_jaccard_prefix": "dedup",
            "x_search_bm25": "text",
            "x_sketch_hll": "sketch",
            "x_knn_topk": "sim",
            "x_graph_pagerank": "graph",
            "x_stream_window_exec": "streaming",
            "x_pipeline_validate_curate": "ops",
            "x_multimodal_near_dup": "multimodal",
        },
    },
}

# Sizes of the operator workload's tables: those of the sf0.01 test tables.
OPS_TABLES = {
    "documents": 500, "near_dup_share": 0.03, "exact_dup_share": 0.005,
    "embeddings": 500, "dim": 64, "labels": 10,
    "events": 10_000, "users": 150, "days": 30,
    "lineitem": 60_000, "parts": 2000,
}

# Shares of the distinct lookup keys, by how the row should resolve.
KEY_CATEGORIES = {
    "exact": 0.78,
    "taxid": 0.04,          # bare numeric GBIF key
    "taxid_prefixed": 0.02,  # "GBIF:<key>"
    "taxid_unknown": 0.01,   # numeric, not in the backbone (passes through)
    "synonym": 0.05,
    "ambiguous": 0.03,
    "unmatched": 0.05,
    "null": 0.02,
}

NAME_COL = "scientificName"
TAXID_COL = "taxid"


def config_yaml(spec: dict) -> str:
    """The job's configuration in the reference's flat YAML shape."""
    lines = ['sep: ","', f'name_column: "{NAME_COL}"', f'taxid_column: "{TAXID_COL}"']
    zone = spec["zone"]
    if "country" in zone:
        lines.append(f'country: "{zone["country"]}"')
    if "geometry" in zone:
        lines.append(f'geometry: "{zone["geometry"]}"')
    if spec["resolve_to_rank"]:
        lines.append(f'resolve_to_rank: "{spec["resolve_to_rank"]}"')
    if spec["habitat"]:
        lines.append(f'habitat: "{spec["habitat"]}"')
    return "\n".join(lines) + "\n"
