"""Correctness checks of the program's outputs, computed apart from it.

Each check takes the inputs the workload was given and the outputs the
harness dumped (outside the timed region) and returns a list of problems;
an empty list means the outputs are correct. The expected values come from
DuckDB and numpy over the inputs, from the documented formulas (hash
geocoding, tile grid, asset rows) and from properties the method must have
(the exactly-one rule, counts summing to the point count, last writer wins,
idempotent re-merge). None of them compares against a stored copy of an
earlier output.
"""
import glob
import json
import os

import duckdb
import numpy as np

# The shelf tiles (graft.pages.Pages.tiles): a 24 x 12 grid of 15-degree
# tiles minus every 37th, plus two overlapping tiles over the hot cell.
TILES = [(f"T{t}", -180.0 + (t % 24) * 15.0, -90.0 + (t // 24) * 15.0,
          -180.0 + (t % 24) * 15.0 + 15.0, -90.0 + (t // 24) * 15.0 + 15.0)
         for t in range(288) if t % 37 != 0]
TILES += [("HOT_A", 10.0, 50.0, 14.0, 53.0), ("HOT_B", 11.0, 50.5, 13.5, 52.5)]

# The documented hash geocoding (graft.pages.Pages), in millidegrees.
GEO_SQL = """
  SELECT doc_id, lang, n_chars, lonm, latm, lonm / 1000.0 AS lon, latm / 1000.0 AS lat
  FROM (
    SELECT *,
      CASE WHEN cl = 0 THEN 12000 + h1 % 1000
           WHEN cl = 1 THEN CASE WHEN 179500 + h1 % 1000 >= 180000
                                 THEN 179500 + h1 % 1000 - 360000 ELSE 179500 + h1 % 1000 END
           ELSE h1 % 360000 - 180000 END AS lonm,
      CASE WHEN cl = 0 THEN 51000 + h2 % 1000
           WHEN cl = 1 THEN -70000 - h2 % 1000
           ELSE h2 % 170000 - 85000 END AS latm
    FROM (
      SELECT *, (h1 * 48271 + 17) % 2147483647 AS h2
      FROM (SELECT *, (doc_id * 48271 + 11) % 2147483647 AS h1, doc_id % 10 AS cl FROM {src})
    )
  )"""


def _pq(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet"))) if os.path.isdir(path) else [path]
    return "read_parquet([" + ",".join(f"'{f}'" for f in files) + "])"


def _con():
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("CREATE TABLE tiles(tile_name VARCHAR, x0 DOUBLE, y0 DOUBLE, x1 DOUBLE, y1 DOUBLE)")
    con.executemany("INSERT INTO tiles VALUES (?, ?, ?, ?, ?)", TILES)
    return con


def _diff(con, name, got_sql, want_sql):
    """Multiset difference both ways; a problem string per direction."""
    out = []
    for a, b, what in ((got_sql, want_sql, "unexpected"), (want_sql, got_sql, "missing")):
        n = con.execute(f"SELECT count(*) FROM (({a}) EXCEPT ALL ({b}))").fetchone()[0]
        if n:
            row = con.execute(f"SELECT * FROM (({a}) EXCEPT ALL ({b})) LIMIT 1").fetchone()
            out.append(f"{name}: {n} {what} rows, e.g. {row}")
    return out


def _points(con, src):
    """Geocode the distinct documents of `src` (a FROM item) and find every
    tile containing each point."""
    con.execute(f"CREATE OR REPLACE TABLE pts AS {GEO_SQL.format(src=src)}")
    # every tile containing each point, by exact inclusive rectangle containment
    con.execute("""CREATE OR REPLACE TABLE hits AS
      SELECT p.doc_id, t.tile_name FROM pts p JOIN tiles t
        ON p.lon >= t.x0 AND p.lon <= t.x1 AND p.lat >= t.y0 AND p.lat <= t.y1""")
    con.execute("""CREATE OR REPLACE TABLE ntiles AS
      SELECT p.doc_id, count(h.tile_name) AS n FROM pts p LEFT JOIN hits h USING (doc_id)
      GROUP BY p.doc_id""")


GEOCELL_SQL = """(CASE WHEN lat >= 0 THEN 'n' ELSE 's' END)
    || lpad(CAST(CAST(abs(floor(lat)) AS INT) AS VARCHAR), 2, '0')
    || (CASE WHEN lon >= 0 THEN 'e' ELSE 'w' END)
    || lpad(CAST(CAST(abs(floor(lon)) AS INT) AS VARCHAR), 3, '0')"""


# Per-tile statistics of the 10-degree grid, quartered (graft.ops.Tiling.coverageStats).
COVERAGE_SQL = """
  SELECT CAST(CAST(floor(lat / 10) AS INT) AS VARCHAR) || '_' ||
         CAST(CAST(floor(lon / 10) AS INT) AS VARCHAR) AS supertile,
         CAST(CAST(floor((lat / 10 - floor(lat / 10)) * 2) + 1 AS INT) AS VARCHAR) || '_' ||
         CAST(CAST(floor((lon / 10 - floor(lon / 10)) * 2) + 1 AS INT) AS VARCHAR) AS quartertile,
         count(*) AS n_rows, count(DISTINCT lang) AS n_langs, sum(n_chars) AS sum_chars
  FROM pts GROUP BY 1, 2"""


def check_shelve(inputs, out):
    """Geocodes, tiles by the exactly-one rule and its skip counts, the SQL
    left join, the coverage statistics (which must sum to the point count)
    and a kNN sample."""
    con = _con()
    _points(con, _pq(os.path.join(inputs, "docs")))
    o = lambda name: _pq(os.path.join(out, name))  # noqa: E731
    problems = _diff(con, "geocode", f"SELECT doc_id, lon, lat, geocell FROM {o('geocode')}",
                     f"SELECT doc_id, lon, lat, {GEOCELL_SQL} AS geocell FROM pts")
    want_shelve = "SELECT h.doc_id, h.tile_name FROM hits h JOIN ntiles n USING (doc_id) WHERE n.n = 1"
    nomatch, multi, one = con.execute(
        "SELECT sum((n = 0)::INT), sum((n > 1)::INT), sum((n = 1)::INT) FROM ntiles").fetchone()
    problems += _diff(con, "shelve", f"SELECT doc_id, tile_name FROM {o('shelve')}", want_shelve)
    with open(os.path.join(out, "shelve_skips.json")) as f:
        skips = json.load(f)
    for k, want in (("skip_nomatch", nomatch), ("skip_multi", multi), ("n_shelved", one)):
        if int(skips[k]) != int(want):
            problems.append(f"shelve: {k} = {skips[k]}, want {want}")
    # the SQL path is a LEFT join: every containing tile, or one NULL row
    problems += _diff(con, "sql_contains", f"SELECT doc_id, tile_name FROM {o('sql_contains')}",
                      "SELECT p.doc_id, h.tile_name FROM pts p LEFT JOIN hits h USING (doc_id)")
    problems += _diff(con, "coverage", f"SELECT supertile, quartertile, n_rows, n_langs, sum_chars "
                      f"FROM {o('coverage')}", COVERAGE_SQL)
    n = con.execute("SELECT count(*) FROM pts").fetchone()[0]
    total = con.execute(f"SELECT sum(n_rows) FROM {o('coverage')}").fetchone()[0]
    if total != n:
        problems.append(f"coverage: counts sum to {total}, want the point count {n}")
    problems += _check_knn(con, inputs, os.path.join(out, "knn"))
    return problems


KNN_K = 5
KNN_SAMPLE = 40


def _check_knn(con, inputs, path):
    """A seeded sample of queries against brute-force distance lists."""
    pts = con.execute("SELECT doc_id, lonm, latm FROM pts ORDER BY doc_id").fetchnumpy()
    ids, lonm, latm = pts["doc_id"], pts["lonm"].astype(np.int64), pts["latm"].astype(np.int64)
    qids = con.execute(f"SELECT doc_id FROM {_pq(os.path.join(inputs, 'queries.parquet'))}").fetchnumpy()["doc_id"]
    got = con.execute(f"SELECT query_id, neighbor_id, dist2, rn FROM {_pq(path)} ORDER BY query_id, rn").fetchall()
    by_q = {}
    for q, nb, d2, rn in got:
        by_q.setdefault(q, []).append((rn, nb, d2))
    problems = []
    if sorted(by_q) != sorted(int(q) for q in qids):
        problems.append(f"knn: answers for {len(by_q)} queries, want {len(qids)}")
    pos = {int(i): k for k, i in enumerate(ids)}
    rng = np.random.default_rng(len(qids))
    for q in rng.choice(qids, min(KNN_SAMPLE, len(qids)), replace=False):
        q = int(q)
        i = pos[q]
        adl = np.abs(lonm - lonm[i])
        dl = np.minimum(adl, 360000 - adl)
        d2 = dl * dl + (latm - latm[i]) ** 2
        want = np.sort(np.partition(d2, KNN_K)[:KNN_K])
        rows = sorted(by_q.get(q, []))
        if [r[0] for r in rows] != list(range(1, KNN_K + 1)):
            problems.append(f"knn: query {q} has ranks {[r[0] for r in rows]}")
            continue
        if [int(r[2]) for r in rows] != [int(x) for x in want]:
            problems.append(f"knn: query {q} distances {[r[2] for r in rows]}, brute force {want}")
            continue
        for rn, nb, dd in rows:
            if nb not in pos or int(d2[pos[nb]]) != int(dd):
                problems.append(f"knn: query {q} neighbour {nb} is not at distance {dd}")
                break
    return problems


ORDER_COLS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"


def check_ingest(inputs, out):
    """The merged orders against last-writer-wins over the batches, the
    merged asset table against the asset rows of every key sent, an
    idempotent re-merge of both, planted exact duplicates paired, and the
    stream sink's window counts."""
    con = _con()
    batches = sorted(glob.glob(os.path.join(inputs, "batch-*")))
    con.execute("CREATE TABLE docs AS " + " UNION ALL ".join(
        f"SELECT {b} AS batch, doc_id, text, lang, source, n_chars FROM read_parquet('{d}/documents.parquet')"
        for b, d in enumerate(batches)))
    con.execute("CREATE TABLE orders AS " + " UNION ALL ".join(
        f"SELECT {b} AS batch, * FROM read_parquet('{d}/orders.parquet')"
        for b, d in enumerate(batches)))
    problems = []
    # the orders upsert: each key holds the row of the last batch that sent it
    changed = con.execute(f"""SELECT count(*) FROM (SELECT o_orderkey FROM orders
        GROUP BY o_orderkey HAVING count(DISTINCT ({ORDER_COLS})) > 1)""").fetchone()[0]
    if not changed:
        problems.append("orders: the inputs re-send no key with new values, so last-writer-wins is untested")
    lww = f"""SELECT {ORDER_COLS} FROM orders
              QUALIFY row_number() OVER (PARTITION BY o_orderkey ORDER BY batch DESC) = 1"""
    problems += _diff(con, "orders", f"SELECT {ORDER_COLS} FROM {_pq(os.path.join(out, 'orders'))}", lww)
    problems += _diff(con, "orders re-merge of the last batch",
                      f"SELECT {ORDER_COLS} FROM {_pq(os.path.join(out, 'orders_remerge'))}",
                      f"SELECT {ORDER_COLS} FROM {_pq(os.path.join(out, 'orders'))}")
    # asset rows are a function of the key alone: two per key ever sent
    stac = """SELECT CASE o_orderkey % 3 WHEN 0 THEN 'arcticdem' WHEN 1 THEN 'earthdem' ELSE 'rema' END
                     || '-strips-s2s041-2m' AS collection,
                     'SD' || CAST(o_orderkey AS VARCHAR) AS item_id, a.asset_key,
                     o_orderkey % 10 + 1 AS gsd, 'EPSG:' || CAST(32601 + o_orderkey % 60 AS VARCHAR) AS proj_code
              FROM (SELECT DISTINCT o_orderkey FROM orders)
              CROSS JOIN (VALUES ('dem'), ('hillshade')) a(asset_key)"""
    scols = "collection, item_id, asset_key, gsd, proj_code"
    problems += _diff(con, "stac_asset_info",
                      f"SELECT {scols} FROM {_pq(os.path.join(out, 'stac_asset_info'))}", stac)
    problems += _diff(con, "stac_asset_info re-merge of the last batch",
                      f"SELECT {scols} FROM {_pq(os.path.join(out, 'stac_asset_info_remerge'))}",
                      f"SELECT {scols} FROM {_pq(os.path.join(out, 'stac_asset_info'))}")
    missing = con.execute(f"""
        SELECT least(orig, dup) AS a, greatest(orig, dup) AS b
        FROM read_parquet('{os.path.join(inputs, 'planted.parquet')}')
        EXCEPT SELECT doc_a, doc_b FROM {_pq(os.path.join(out, 'dedup_pairs'))}""").fetchall()
    if missing:
        problems.append(f"dedup: {len(missing)} planted exact duplicates not paired, e.g. {missing[0]}")
    # stream sink: per (hour, tile) counts of exactly-one shelved arrivals
    _points(con, "(SELECT DISTINCT doc_id, '' AS lang, 0 AS n_chars FROM docs)")
    con.execute("""CREATE OR REPLACE TABLE arrivals AS
      SELECT d.doc_id, h.tile_name FROM docs d
      JOIN hits h USING (doc_id) JOIN ntiles n USING (doc_id) WHERE n.n = 1""")
    want_stream = """SELECT CAST(floor((1704067200 + doc_id) / 3600) * 3600 AS BIGINT) AS hr_epoch,
                            tile_name, count(*) AS n FROM arrivals GROUP BY 1, 2"""
    problems += _diff(con, "stream_counts",
                      f"SELECT hr_epoch, tile_name, n FROM {_pq(os.path.join(out, 'stream_counts'))}",
                      want_stream)
    return problems


TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _canon(con, sql):
    """Rows of a query as sorted tuples over name-sorted columns."""
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = [tuple(_norm(r[i]) for i in order) for r in cur.fetchall()]
    return [names[i] for i in order], sorted(rows, key=repr)


def _norm(v):
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, float) and v != v:
        return "NaN"
    return v


def check_catalog(fixture, out):
    """Every dumped query against its DuckDB oracle SQL on the same fixture:
    same columns, same rows (exact values, order ignored)."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture}/{t}.parquet')")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    problems = []
    for name, sql in sorted(oracle.items()):
        try:
            want_cols, want = _canon(con, sql)
            got_cols, got = _canon(con, f"SELECT * FROM {_pq(os.path.join(out, name))}")
        except Exception as e:  # a failing oracle or unreadable output is a problem
            problems.append(f"{name}: {str(e)[:200]}")
            continue
        if want_cols != got_cols:
            problems.append(f"{name}: columns {got_cols}, oracle {want_cols}")
        elif want != got:
            bad = next((g, w) for g, w in zip(got + [None] * len(want), want + [None] * len(got)) if g != w)
            problems.append(f"{name}: {len(got)} rows vs oracle {len(want)}; first difference {bad}")
    return problems


CHECKS = {"shelve": check_shelve, "ingest": check_ingest, "catalog": check_catalog}
