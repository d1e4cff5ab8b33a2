"""DuckDB replay of the GBIF filter job over one generated input directory.

It restates the job's semantics in SQL, independently of the Spark code:
strict name match (one candidate, synonyms chase to the accepted key, a
taxid wins over the name), the tri-state zone tag, children of FAMILY and
GENUS parents at the target rank that occur in the zone, sorted by
(name, key), and the output shaping of the reference (filter or tag mode,
lists written as `['a', 'b']` / `[1, 2]`, nulls as `NA`).

The expected output, and the Spark output read back from CSV, are compared
by row count plus an order-independent hash over every column.
"""
import glob
import os

import duckdb

from workloads import NAME_COL, TAXID_COL

TAXID_RE = "^(?:[A-Za-z]+:)?([0-9]+)$"
TAG_COL = "gbif_filter_tag"


def connect(data_dir: str):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{data_dir}/duckdb.tmp'")
    con.execute(f"CREATE VIEW bb AS SELECT * FROM '{data_dir}/backbone.parquet'")
    con.execute(f"CREATE VIEW occ AS SELECT * FROM '{data_dir}/occurrence.parquet'")
    con.execute(
        "CREATE TABLE inp AS SELECT * FROM read_csv("
        f"'{data_dir}/taxa.csv', header = true, all_varchar = true, "
        "nullstr = 'NA', delim = ',', quote = '\"')")
    return con


def ring_edges(wkt: str):
    body = wkt[wkt.index("((") + 2: wkt.rindex("))")]
    pts = [tuple(float(v) for v in p.split()) for p in body.split(",")]
    return [(x1, y1, x2, y2) for (x1, y1), (x2, y2) in zip(pts, pts[1:])]


def zone_sql(con, zone: dict) -> None:
    """occ_zone(taxonKey, in_bbox, in_zone): the zone predicate per record.
    Without a polygon there is no bounding-box conjunct: in_bbox is true."""
    country = (f"o.countryCode = '{zone['country']}'" if "country" in zone else "true")
    if "geometry" not in zone:
        con.execute("CREATE TABLE occ_zone AS SELECT taxonKey, true AS in_bbox, "
                    f"coalesce({country}, false) AS in_zone FROM occ o")
        return
    edges = ring_edges(zone["geometry"])
    xs = [e[0] for e in edges]
    ys = [e[1] for e in edges]
    bbox = (f"o.decimalLatitude BETWEEN {min(ys)} AND {max(ys)} AND "
            f"o.decimalLongitude BETWEEN {min(xs)} AND {max(xs)}")
    values = ", ".join(f"({x1}, {y1}, {x2}, {y2})" for x1, y1, x2, y2 in edges)
    con.execute(f"CREATE TABLE edges AS SELECT * FROM (VALUES {values}) e(x1, y1, x2, y2)")
    # even-odd ray cast toward +x over the distinct grid points in the box
    con.execute(
        "CREATE TABLE pip AS SELECT lon, lat, count_if((y1 > lat) <> (y2 > lat) AND "
        "lon < x1 + (lat - y1) / (y2 - y1) * (x2 - x1)) % 2 = 1 AS inside FROM "
        "(SELECT DISTINCT o.decimalLongitude lon, o.decimalLatitude lat FROM occ o "
        f"WHERE {bbox}), edges GROUP BY lon, lat")
    con.execute(
        f"CREATE TABLE occ_zone AS SELECT o.taxonKey, coalesce({bbox}, false) AS in_bbox, "
        f"coalesce(p.inside AND {country}, false) AS in_zone FROM occ o LEFT JOIN pip p "
        "ON o.decimalLongitude = p.lon AND o.decimalLatitude = p.lat")


def build(con, spec: dict) -> None:
    """Creates keyed, inzone, tagged and (with rank resolution) parents,
    cand and lists, then the expected output relation `expected`."""
    con.execute(
        "CREATE TABLE inp_n AS SELECT row_number() OVER () AS _rn, * FROM inp")
    # one lookup per distinct name: candidate count and the single match
    con.execute(
        f"""CREATE TABLE keyed AS
        WITH k AS (
          SELECT _rn, nullif(trim("{NAME_COL}"), '') AS name_key,
                 CASE WHEN regexp_extract(trim("{TAXID_COL}"), '{TAXID_RE}', 1) <> ''
                      THEN CAST(regexp_extract(trim("{TAXID_COL}"), '{TAXID_RE}', 1)
                                AS BIGINT) END AS taxid_in
          FROM inp_n),
        lk AS (
          SELECT n.name_key, count(*) AS cnt, min(b.key) AS key,
                 min(b.taxonomicStatus) AS status, min(b.acceptedKey) AS accepted,
                 min(upper(b.rank)) AS rank
          FROM (SELECT DISTINCT name_key FROM k
                WHERE taxid_in IS NULL AND name_key IS NOT NULL) n
          JOIN bb b ON b.canonicalName = n.name_key GROUP BY n.name_key)
        SELECT k._rn, k.name_key, k.taxid_in,
          CASE WHEN k.taxid_in IS NOT NULL THEN 'taxid'
               WHEN k.name_key IS NULL THEN 'null'
               WHEN lk.cnt IS NULL THEN 'unmatched'
               WHEN lk.cnt > 1 THEN 'ambiguous'
               WHEN lk.status = 'SYNONYM' THEN 'synonym'
               ELSE 'exact' END AS category,
          coalesce(k.taxid_in, CASE WHEN lk.cnt = 1 THEN
            CASE WHEN lk.status = 'SYNONYM' THEN lk.accepted ELSE lk.key END END) AS taxid,
          CASE WHEN k.taxid_in IS NULL AND lk.cnt = 1 THEN lk.rank END AS rank
        FROM k LEFT JOIN lk ON k.taxid_in IS NULL AND k.name_key = lk.name_key""")
    zone_sql(con, spec["zone"])
    con.execute("CREATE TABLE inzone AS SELECT DISTINCT taxonKey FROM occ_zone WHERE in_zone")
    con.execute(
        "CREATE TABLE tagged AS SELECT k._rn, k.taxid, k.rank, "
        "CASE WHEN k.taxid IS NULL THEN NULL ELSE z.taxonKey IS NOT NULL END AS tag "
        "FROM keyed k LEFT JOIN inzone z ON k.taxid = z.taxonKey")
    cols = [d[0] for d in con.execute("SELECT * FROM inp LIMIT 0").description]
    select = ", ".join(f'i."{c}"' for c in cols)
    target = spec["resolve_to_rank"]
    extra, joins = "", ""
    if not spec["tag"]:
        where = "WHERE t.tag IS TRUE"
    else:
        where = ""
        extra += f', CAST(t.tag AS VARCHAR) AS "{TAG_COL}"'
    if target:
        hab = f"AND upper(habitat) = '{spec['habitat']}'" if spec["habitat"] else ""
        eligible = (f"t.tag AND t.rank IN ('FAMILY', 'GENUS') AND t.rank <> '{target}'")
        con.execute(f"CREATE TABLE parents AS SELECT DISTINCT t.taxid AS parent "
                    f"FROM tagged t WHERE {eligible}")
        con.execute(
            "CREATE TABLE cand AS SELECT DISTINCT p.parent, c.key, c.canonicalName FROM "
            "(SELECT key, canonicalName, unnest(higherTaxonKeys) AS anc FROM bb "
            f"WHERE taxonomicStatus = 'ACCEPTED' AND upper(rank) = '{target}' {hab}) c "
            "JOIN parents p ON c.anc = p.parent")
        con.execute(
            "CREATE TABLE lists AS SELECT parent, "
            "'[' || string_agg('''' || canonicalName || '''', ', ' "
            "ORDER BY canonicalName, key) || ']' AS names, "
            "'[' || string_agg(CAST(key AS VARCHAR), ', ' "
            "ORDER BY canonicalName, key) || ']' AS ids "
            "FROM cand WHERE key IN (SELECT taxonKey FROM inzone) GROUP BY parent")
        low = target.lower()
        extra += (f', l.names AS "gbif_filter_resolved_{low}_names"'
                  f', l.ids AS "gbif_filter_resolved_{low}_ids"')
        joins = f"LEFT JOIN lists l ON {eligible} AND t.taxid = l.parent"
    con.execute(f"CREATE TABLE expected AS SELECT {select}{extra} FROM inp_n i "
                f"JOIN tagged t USING (_rn) {joins} {where}")


def layer_counts(con, spec: dict) -> dict:
    """What each layer of the job does on this input (row counts)."""
    one = lambda sql: con.execute(sql).fetchone()  # noqa: E731
    keys, named, resolved = one(
        "SELECT count(DISTINCT name_key) FILTER (WHERE taxid_in IS NULL), "
        "count(*) FILTER (WHERE name_key IS NOT NULL OR taxid_in IS NOT NULL), "
        "count(taxid) FROM keyed")
    occ, bbox, zone = one("SELECT count(*), count_if(in_bbox), count_if(in_zone) FROM occ_zone")
    out = {
        "taxonomy.distinct_keys": keys,
        "taxonomy.resolved_ratio": resolved / max(1, named),
        "geo.bbox_pass_ratio": bbox / max(1, occ),
        "geo.pip_pass_ratio": zone / max(1, bbox),
        "occurrence.inzone_keys": one("SELECT count(*) FROM inzone")[0],
        "occurrence_rows": occ,
        "output_rows": one("SELECT count(*) FROM expected")[0],
    }
    if spec["resolve_to_rank"]:
        parents, = one("SELECT count(*) FROM parents")
        cand, kept = one("SELECT count(*), count(*) FILTER (WHERE key IN "
                         "(SELECT taxonKey FROM inzone)) FROM cand")
        out.update({"rank.parents": parents, "rank.candidates": cand,
                    "rank.kept_ratio": kept / max(1, cand)})
    else:
        out.update({"rank.parents": 0, "rank.candidates": 0, "rank.kept_ratio": 0.0})
    return out


def columns(con, relation: str):
    return [d[0] for d in con.execute(f"SELECT * FROM {relation} LIMIT 0").description]


def digest(con, relation: str):
    """(column names, row count, order-independent hash) of a relation."""
    cols = columns(con, relation)
    hashed = ", ".join(f'"{c}"' for c in cols)
    n, h = con.execute(
        f"SELECT count(*), CAST(coalesce(sum(hash({hashed})), 0) AS VARCHAR) "
        f"FROM {relation}").fetchone()
    return cols, n, h


def spark_csv(out_dir: str) -> str:
    """A DuckDB relation over the part files the Spark CSV sink wrote."""
    parts = sorted(p for p in glob.glob(f"{out_dir}/part-*.csv") if os.path.getsize(p) > 0)
    if not parts:
        raise FileNotFoundError(f"no CSV part files under {out_dir}")
    files = "[" + ", ".join(f"'{p}'" for p in parts) + "]"
    return (f"read_csv({files}, header = true, all_varchar = true, nullstr = 'NA', "
            "delim = ',', quote = '\"', escape = '\\', union_by_name = false)")
