"""Seeded input generator for the GBIF workloads.

Writes, into one directory:
  taxa.csv            the user's taxa table (name, taxid, passenger columns)
  backbone.parquet    the taxonomic backbone (families > genera > species,
                      plus synonyms, homonyms and doubtful names)
  occurrence.parquet  occurrence records on a one-decimal lat/lon grid
  config.yml          the job's filter configuration
  properties.json     the input properties measured on the written files

The same seed gives byte-identical files; another seed gives other files.

Usage: python3 benchmark/gen.py --workload NAME --seed N --out DIR
"""
import argparse
import json
import os
import sys
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import replay  # noqa: E402
from workloads import (INSIDE_BOXES, KEY_CATEGORIES, NAME_COL, NOTCH_BOX,  # noqa: E402
                       OUTSIDE_BOX, TAXID_COL, WORKLOADS, config_yaml)

SYLLABLES = ["ba", "ce", "di", "fo", "gu", "ha", "ki", "lo",
             "mu", "na", "pe", "ri", "sa", "to", "vu", "xe"]
HABITATS = ["TERRESTRIAL", "MARINE", "FRESHWATER", None]
COUNTRIES = ["FR", "DE", "ES", "IT", "SE", "FI", "PL", "GB", "PT", "DK"]
ROW_GROUP_ROWS = 100_000  # several row groups, so the scan splits across cores


class Names:
    """Unique Latin-looking names: an index written in base 16 over a
    seed-shuffled syllable alphabet."""

    def __init__(self, rng):
        self.syl = list(rng.permutation(SYLLABLES))

    def stem(self, i: int, width: int = 3) -> str:
        out = []
        for _ in range(width):
            out.append(self.syl[i % 16])
            i //= 16
        assert i == 0, "name index out of range"
        return "".join(out)


def make_backbone(rng, spec):
    names = Names(rng)
    rows = {k: [] for k in ("key", "canonicalName", "rank", "kingdom",
                            "taxonomicStatus", "acceptedKey",
                            "higherTaxonKeys", "habitat")}
    kingdoms = {"Animalia": 1, "Plantae": 6}

    def add(key, name, rank, kingdom, status, accepted, higher, habitat=None):
        rows["key"].append(key)
        rows["canonicalName"].append(name)
        rows["rank"].append(rank)
        rows["kingdom"].append(kingdom)
        rows["taxonomicStatus"].append(status)
        rows["acceptedKey"].append(accepted)
        rows["higherTaxonKeys"].append(higher)
        rows["habitat"].append(habitat)

    for k, key in kingdoms.items():
        add(key, k, "KINGDOM", k, "ACCEPTED", None, [])
    key = 1000
    genus_i = 0
    kingdom_names = list(kingdoms)
    for f in range(spec["families"]):
        kingdom = kingdom_names[f % 2]
        kkey = kingdoms[kingdom]
        fkey = key
        key += 1
        add(fkey, names.stem(f).capitalize() + "idae", "FAMILY", kingdom,
            "ACCEPTED", None, [kkey])
        for _ in range(int(rng.integers(2, 9))):
            gkey = key
            key += 1
            gname = names.stem(genus_i, 4).capitalize()
            genus_i += 1
            add(gkey, gname, "GENUS", kingdom, "ACCEPTED", None, [kkey, fkey])
            for s in range(int(rng.integers(2, 13))):
                skey = key
                key += 1
                status = "DOUBTFUL" if rng.random() < 0.02 else "ACCEPTED"
                hab = HABITATS[int(rng.choice(4, p=[0.6, 0.2, 0.1, 0.1]))]
                add(skey, f"{gname} {names.stem(s, 2)}a", "SPECIES", kingdom,
                    status, None, [kkey, fkey, gkey], hab)
    n_base = len(rows["key"])
    # synonyms: another name pointing at an accepted genus or species
    accepted = [i for i in range(n_base) if rows["rank"][i] in ("GENUS", "SPECIES")
                and rows["taxonomicStatus"][i] == "ACCEPTED"]
    for j, i in enumerate(rng.choice(accepted, size=len(accepted) // 20, replace=False)):
        syn = rows["canonicalName"][i]
        syn = (names.stem(j, 4).capitalize() + "ella" if rows["rank"][i] == "GENUS"
               else syn.split(" ")[0] + " " + names.stem(j, 3) + "oides")
        add(key, syn, rows["rank"][i], rows["kingdom"][i], "SYNONYM",
            rows["key"][i], rows["higherTaxonKeys"][i])
        key += 1
    # homonyms: a genus name reused in the other kingdom (ambiguous match)
    genera = [i for i in range(n_base) if rows["rank"][i] == "GENUS"]
    for i in rng.choice(genera, size=max(1, len(genera) // 50), replace=False):
        other = "Plantae" if rows["kingdom"][i] == "Animalia" else "Animalia"
        add(key, rows["canonicalName"][i], "GENUS", other, "ACCEPTED", None,
            [kingdoms[other]])
        key += 1
    schema = pa.schema([("key", pa.int64()), ("canonicalName", pa.string()),
                        ("rank", pa.string()), ("kingdom", pa.string()),
                        ("taxonomicStatus", pa.string()), ("acceptedKey", pa.int64()),
                        ("higherTaxonKeys", pa.list_(pa.int64())),
                        ("habitat", pa.string())])
    return pa.table(rows, schema=schema)


def grid(rng, n, box):
    lon0, lon1, lat0, lat1 = box
    return (rng.integers(lon0, lon1 + 1, n) / 10.0,
            rng.integers(lat0, lat1 + 1, n) / 10.0)


def make_occurrences(rng, spec, bb):
    key = bb.column("key").to_numpy()
    rank = np.array(bb.column("rank").to_pylist())
    status = np.array(bb.column("taxonomicStatus").to_pylist())
    occ_taxa = key[((rank == "SPECIES") | (rank == "GENUS")) & (status == "ACCEPTED")]
    occ_rank = rank[((rank == "SPECIES") | (rank == "GENUS")) & (status == "ACCEPTED")]
    n = spec["occurrence_rows"]
    # skewed popularity: a few taxa carry most records
    order = rng.permutation(len(occ_taxa))
    weight = 1.0 / (np.arange(len(occ_taxa)) + 10.0)
    pick = order[rng.choice(len(occ_taxa), size=n, p=weight / weight.sum())]
    taxon_in_zone = rng.random(len(occ_taxa)) < spec["taxon_in_zone_share"]
    in_zone_taxon = taxon_in_zone[pick]
    here = in_zone_taxon & (rng.random(n) < 0.5)
    lon, lat = grid(rng, n, OUTSIDE_BOX)
    if "geometry" in spec["zone"]:
        # inside the polygon for in-zone taxa; the notch of the L (inside
        # the bounding box, outside the polygon) for some others
        which = rng.integers(0, len(INSIDE_BOXES), n)
        for b, box in enumerate(INSIDE_BOXES):
            m = here & (which == b)
            lon[m], lat[m] = grid(rng, int(m.sum()), box)
        notch = ~here & (rng.random(n) < 0.3)
        lon[notch], lat[notch] = grid(rng, int(notch.sum()), NOTCH_BOX)
    country = np.array(COUNTRIES)[rng.integers(0, len(COUNTRIES), n)]
    if "country" in spec["zone"]:
        country[here] = spec["zone"]["country"]
    lat_arr = pa.array(lat, mask=rng.random(n) < 0.01)  # 1% without coordinates
    return pa.table({
        "taxonKey": pa.array(occ_taxa[pick], pa.int64()),
        "decimalLatitude": lat_arr,
        "decimalLongitude": pa.array(lon),
        "countryCode": pa.array(country),
        "taxonRank": pa.array(occ_rank[pick]),
    })


def make_taxa(rng, spec, bb):
    names = np.array(bb.column("canonicalName").to_pylist(), dtype=object)
    rank = np.array(bb.column("rank").to_pylist())
    status = np.array(bb.column("taxonomicStatus").to_pylist())
    keys = bb.column("key").to_numpy()
    counts = Counter(names)
    unique = np.array([counts[nm] == 1 for nm in names])
    acc = (status == "ACCEPTED") & unique
    pools = {r: names[acc & (rank == r)] for r in spec["name_ranks"]}
    synonyms = names[(status == "SYNONYM") & unique]
    ambiguous = np.array(sorted(nm for nm, c in counts.items() if c > 1), dtype=object)
    idkeys = keys[(rank == "SPECIES") | (rank == "GENUS")]

    n_keys = max(1, int(spec["taxa_rows"] * spec["distinct_share"]))
    cats = list(KEY_CATEGORIES)
    cat = rng.choice(len(cats), size=n_keys, p=list(KEY_CATEGORIES.values()))
    ranks = list(spec["name_ranks"])
    key_name, key_taxid = [], []
    for c in cat:
        kind = cats[c]
        name = taxid = None
        if kind == "exact":
            r = ranks[int(rng.choice(len(ranks), p=list(spec["name_ranks"].values())))]
            name = pools[r][rng.integers(len(pools[r]))]
        elif kind == "synonym":
            name = synonyms[rng.integers(len(synonyms))]
        elif kind == "ambiguous":
            name = ambiguous[rng.integers(len(ambiguous))]
        elif kind == "unmatched":
            name = "Incerta " + "".join(rng.choice(SYLLABLES, 4))
        elif kind.startswith("taxid"):
            k = int(idkeys[rng.integers(len(idkeys))])
            if kind == "taxid_unknown":
                k += 90_000_000
            taxid = f"GBIF:{k}" if kind == "taxid_prefixed" else str(k)
            # a name alongside the taxid: the taxid must win
            name = names[rng.integers(len(names))] if rng.random() < 0.5 else None
        key_name.append(name)
        key_taxid.append(taxid)
    pick = rng.integers(0, n_keys, spec["taxa_rows"])
    cols = {
        "id": pa.array([f"r{i}" for i in range(spec["taxa_rows"])]),
        NAME_COL: pa.array([key_name[i] for i in pick], pa.string()),
        TAXID_COL: pa.array([key_taxid[i] for i in pick], pa.string()),
    }
    for j in range(spec["passenger_cols"]):
        v = rng.integers(0, 100_000, spec["taxa_rows"])
        parts = [  # integers, decimals, tokens and codes, all kept as text
            [text(v)],
            [text(v // 100), ".", pc.utf8_lpad(text(v % 100), 2, "0")],
            ["tok", text(v % 997)],
            ["S", text(v % 26), "-", text(v)],
        ][j % 4]
        cols[f"p{j + 1:02d}"] = pc.binary_join_element_wise(*parts, "")
    return pa.table(cols)


def text(ints):
    return pa.array(ints).cast(pa.string())


def write_csv(table, path):
    # every column is a string; nulls are written as the reference's NA
    filled = pa.table({c: table.column(c).fill_null("NA") for c in table.column_names})
    pacsv.write_csv(filled, path, pacsv.WriteOptions(quoting_style="none"))


def generate(workload: str, seed: int, out: str):
    """Writes the inputs; returns their measured properties and a DuckDB
    connection holding the replay of the job over them."""
    spec = WORKLOADS[workload]
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    bb = make_backbone(rng, spec)
    occ = make_occurrences(rng, spec, bb)
    taxa = make_taxa(rng, spec, bb)
    pq.write_table(bb, f"{out}/backbone.parquet", row_group_size=ROW_GROUP_ROWS)
    pq.write_table(occ, f"{out}/occurrence.parquet", row_group_size=ROW_GROUP_ROWS)
    write_csv(taxa, f"{out}/taxa.csv")
    with open(f"{out}/config.yml", "w") as f:
        f.write(config_yaml(spec))
    con = replay.connect(out)
    replay.build(con, spec)
    props = measure_properties(con, workload, seed)
    with open(f"{out}/properties.json", "w") as f:
        json.dump(props, f, indent=1, sort_keys=True)
    return props, con


def measure_properties(con, workload: str, seed: int) -> dict:
    """The input properties the job depends on, measured on the files
    through the replay's tables."""
    spec = WORKLOADS[workload]
    one = lambda sql: con.execute(sql).fetchone()  # noqa: E731
    taxa_rows, = one("SELECT count(*) FROM inp")
    cats = dict(con.execute("SELECT category, count(*) FROM keyed GROUP BY ALL").fetchall())
    lookup_rows, distinct_keys = one(
        "SELECT count(*), count(DISTINCT name_key) FROM keyed "
        "WHERE taxid_in IS NULL AND name_key IS NOT NULL")
    occ_rows, bbox, zone = one(
        "SELECT count(*), count_if(in_bbox), count_if(in_zone) FROM occ_zone")
    in_taxa, zone_taxa = one(
        "SELECT count(DISTINCT taxid), count(DISTINCT taxid) FILTER (WHERE tag) FROM tagged")
    props = {
        "workload": workload,
        "seed": seed,
        "rows": {"taxa": taxa_rows,
                 "backbone": one("SELECT count(*) FROM bb")[0],
                 "occurrence": occ_rows},
        "taxa_columns": len(con.execute("SELECT * FROM inp LIMIT 0").description),
        "distinct_key_share": distinct_keys / max(1, lookup_rows),
        "row_shares": {c: cats.get(c, 0) / taxa_rows for c in
                       ("taxid", "exact", "synonym", "ambiguous", "unmatched", "null")},
        "taxa_in_zone_share": zone_taxa / max(1, in_taxa),
        "occurrence_in_bbox_share": bbox / occ_rows,
        "occurrence_in_zone_share": zone / occ_rows,
        "zone": spec["zone"],
    }
    if spec["resolve_to_rank"]:
        parents, cand_max, cand_mean, kept_mean = one(
            "SELECT count(*), max(n), avg(n), avg(k) FROM ("
            " SELECT p.parent, count(c.key) n, count(c.key) FILTER (WHERE c.key IN "
            "  (SELECT taxonKey FROM inzone)) k"
            " FROM parents p LEFT JOIN cand c ON c.parent = p.parent GROUP BY ALL)")
        props["children_per_parent"] = {"parents": parents, "max": cand_max,
                                        "mean": cand_mean, "mean_in_zone": kept_mean}
    return props


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.out)[0], indent=1, sort_keys=True))
