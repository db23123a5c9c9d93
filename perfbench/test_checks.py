"""Self-tests of the correctness checks: each checker passes a correct output
and reports a failure on one corrupted output (a point moved to the wrong
tile, a dropped neighbour, a stale merged row, one changed catalog row).

    python3 perfbench/test_checks.py      (from the root of a checkout)

Scratch files go under .bench_build/selftest.
"""
import json
import os
import shutil
import sys
import unittest

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

SCRATCH = os.path.join(os.getcwd(), ".bench_build", "selftest")


def _fresh(name):
    d = os.path.join(SCRATCH, name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def _write(con, sql, path):
    os.makedirs(path, exist_ok=True)
    con.execute(f"COPY ({sql}) TO '{path}/part-0.parquet' (FORMAT PARQUET)")


class ShelveChecks(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.inputs = _fresh("shelve_in")
        saved = gen.SHELVE_PAGES, gen.SHELVE_FILES
        gen.SHELVE_PAGES, gen.SHELVE_FILES = 3000, 2
        try:
            gen.gen_shelve(7, cls.inputs)
        finally:
            gen.SHELVE_PAGES, gen.SHELVE_FILES = saved

    def outputs(self, name):
        """Correct outputs, as the program should write them."""
        out = _fresh(name)
        con = checks._con()
        checks._points(con, checks._pq(os.path.join(self.inputs, "docs")))
        _write(con, f"SELECT doc_id, lon, lat, {checks.GEOCELL_SQL} AS geocell FROM pts",
               os.path.join(out, "geocode"))
        nm, mu, one = con.execute(
            "SELECT sum((n = 0)::INT), sum((n > 1)::INT), sum((n = 1)::INT) FROM ntiles").fetchone()
        for t in ("shelve", "shelve_auto"):
            _write(con, "SELECT h.doc_id, h.tile_name FROM hits h JOIN ntiles n USING (doc_id) WHERE n.n = 1",
                   os.path.join(out, t))
            with open(os.path.join(out, f"{t}_skips.json"), "w") as f:
                json.dump({"skip_nomatch": nm, "skip_multi": mu, "n_shelved": one}, f)
        _write(con, "SELECT doc_id, tile_name FROM hits", os.path.join(out, "pip_join"))
        _write(con, "SELECT p.doc_id, h.tile_name FROM pts p LEFT JOIN hits h USING (doc_id)",
               os.path.join(out, "sql_contains"))
        _write(con, checks.COVERAGE_SQL, os.path.join(out, "coverage"))
        # brute-force kNN with the program's tie order (dist2, then neighbour id)
        con.execute(f"CREATE TABLE q AS SELECT doc_id FROM {checks._pq(os.path.join(self.inputs, 'queries.parquet'))}")
        _write(con, """SELECT query_id, neighbor_id, dist2, rn FROM (
                         SELECT a.doc_id AS query_id, b.doc_id AS neighbor_id,
                                least(abs(a.lonm - b.lonm), 360000 - abs(a.lonm - b.lonm)) ** 2
                                  + (a.latm - b.latm) ** 2 AS d,
                                CAST(d AS BIGINT) AS dist2,
                                row_number() OVER (PARTITION BY a.doc_id ORDER BY d, b.doc_id) AS rn
                         FROM pts a JOIN q USING (doc_id) CROSS JOIN pts b) WHERE rn <= 5""",
               os.path.join(out, "knn"))
        return out, con

    def test_correct_outputs_pass(self):
        out, _ = self.outputs("shelve_ok")
        self.assertEqual(checks.check_shelve(self.inputs, out), [])

    def test_point_moved_to_wrong_tile_fails(self):
        out, con = self.outputs("shelve_moved")
        path = os.path.join(out, "shelve")
        con.execute(f"CREATE TABLE s AS SELECT * FROM {checks._pq(path)}")
        victim = con.execute("SELECT min(doc_id) FROM s").fetchone()[0]
        con.execute(f"UPDATE s SET tile_name = CASE WHEN tile_name = 'T30' THEN 'T31' ELSE 'T30' END "
                    f"WHERE doc_id = {victim}")
        shutil.rmtree(path)
        _write(con, "SELECT * FROM s", path)
        problems = checks.check_shelve(self.inputs, out)
        self.assertTrue(any(p.startswith("shelve:") for p in problems), problems)

    def test_dropped_neighbour_fails(self):
        out, con = self.outputs("knn_dropped")
        path = os.path.join(out, "knn")
        con.execute(f"CREATE TABLE k AS SELECT * FROM {checks._pq(path)}")
        con.execute("DELETE FROM k WHERE query_id = (SELECT min(query_id) FROM k) AND rn = 3")
        shutil.rmtree(path)
        _write(con, "SELECT * FROM k", path)
        problems = checks.check_shelve(self.inputs, out)
        self.assertTrue(any(p.startswith("knn:") for p in problems), problems)


class IngestChecks(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.inputs = _fresh("ingest_in")
        saved = gen.INGEST_BATCHES, gen.INGEST_DOCS_PER_BATCH, gen.INGEST_ORDERS_PER_BATCH
        gen.INGEST_BATCHES, gen.INGEST_DOCS_PER_BATCH, gen.INGEST_ORDERS_PER_BATCH = 3, 300, 60
        try:
            gen.gen_ingest(11, cls.inputs)
        finally:
            gen.INGEST_BATCHES, gen.INGEST_DOCS_PER_BATCH, gen.INGEST_ORDERS_PER_BATCH = saved

    def outputs(self, name):
        out = _fresh(name)
        con = checks._con()
        batches = sorted(d for d in os.listdir(self.inputs) if d.startswith("batch-"))
        con.execute("CREATE TABLE docs AS " + " UNION ALL ".join(
            f"SELECT {b} AS batch, * FROM read_parquet('{self.inputs}/{d}/documents.parquet')"
            for b, d in enumerate(batches)))
        con.execute("CREATE TABLE orders AS " + " UNION ALL ".join(
            f"SELECT {b} AS batch, * FROM read_parquet('{self.inputs}/{d}/orders.parquet')"
            for b, d in enumerate(batches)))
        lww = f"""SELECT {checks.ORDER_COLS} FROM orders
                  QUALIFY row_number() OVER (PARTITION BY o_orderkey ORDER BY batch DESC) = 1"""
        _write(con, lww, os.path.join(out, "orders"))
        _write(con, lww, os.path.join(out, "orders_remerge"))
        stac = """SELECT DISTINCT CASE o_orderkey % 3 WHEN 0 THEN 'arcticdem' WHEN 1 THEN 'earthdem'
                                  ELSE 'rema' END || '-strips-s2s041-2m' AS collection,
                         'SD' || CAST(o_orderkey AS VARCHAR) AS item_id, a.asset_key,
                         o_orderkey % 10 + 1 AS gsd,
                         'EPSG:' || CAST(32601 + o_orderkey % 60 AS VARCHAR) AS proj_code
                  FROM orders CROSS JOIN (VALUES ('dem'), ('hillshade')) a(asset_key)"""
        _write(con, stac, os.path.join(out, "stac_asset_info"))
        _write(con, stac, os.path.join(out, "stac_asset_info_remerge"))
        _write(con, f"""SELECT least(orig, dup) AS doc_a, greatest(orig, dup) AS doc_b
                        FROM read_parquet('{self.inputs}/planted.parquet')""", os.path.join(out, "dedup_pairs"))
        checks._points(con, "(SELECT DISTINCT doc_id, '' AS lang, 0 AS n_chars FROM docs)")
        _write(con, """SELECT CAST(floor((1704067200 + d.doc_id) / 3600) * 3600 AS BIGINT) AS hr_epoch,
                              h.tile_name, count(*) AS n
                       FROM docs d JOIN hits h USING (doc_id) JOIN ntiles n USING (doc_id)
                       WHERE n.n = 1 GROUP BY 1, 2""", os.path.join(out, "stream_counts"))
        return out, con

    def test_correct_outputs_pass(self):
        out, _ = self.outputs("ingest_ok")
        self.assertEqual(checks.check_ingest(self.inputs, out), [])

    def test_stale_merged_row_fails(self):
        """One re-sent order keeps the row an older batch wrote."""
        out, con = self.outputs("ingest_stale")
        path = os.path.join(out, "orders")
        con.execute(f"CREATE TABLE m AS SELECT * FROM {checks._pq(path)}")
        key, first = con.execute("""SELECT o_orderkey, min(batch) FROM orders GROUP BY o_orderkey
                                    HAVING count(*) > 1 ORDER BY o_orderkey LIMIT 1""").fetchone()
        con.execute(f"DELETE FROM m WHERE o_orderkey = {key}")
        con.execute(f"""INSERT INTO m SELECT {checks.ORDER_COLS} FROM orders
                        WHERE o_orderkey = {key} AND batch = {first}""")
        shutil.rmtree(path)
        _write(con, "SELECT * FROM m", path)
        problems = checks.check_ingest(self.inputs, out)
        self.assertTrue(any(p.startswith("orders:") for p in problems), problems)


class CatalogChecks(unittest.TestCase):
    FIXTURE = os.path.join(HERE, "fixture", "sf0.001")
    ORACLE = {
        "q_regions": "SELECT r_regionkey, r_name FROM region",
        "q_nation_counts": "SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n FROM nation GROUP BY 1",
    }

    def outputs(self, name):
        out = _fresh(name)
        con = duckdb.connect()
        for t in checks.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.FIXTURE}/{t}.parquet')")
        for q, sql in self.ORACLE.items():
            _write(con, sql, os.path.join(out, q))
        with open(os.path.join(out, "oracle_sql.json"), "w") as f:
            json.dump(self.ORACLE, f)
        return out, con

    def test_correct_outputs_pass(self):
        out, _ = self.outputs("catalog_ok")
        self.assertEqual(checks.check_catalog(self.FIXTURE, out), [])

    def test_one_changed_row_fails(self):
        out, con = self.outputs("catalog_changed")
        path = os.path.join(out, "q_nation_counts")
        con.execute(f"CREATE TABLE c AS SELECT * FROM {checks._pq(path)}")
        con.execute("UPDATE c SET n = n + 1 WHERE n_regionkey = (SELECT min(n_regionkey) FROM c)")
        shutil.rmtree(path)
        _write(con, "SELECT * FROM c", path)
        problems = checks.check_catalog(self.FIXTURE, out)
        self.assertTrue(any(p.startswith("q_nation_counts:") for p in problems), problems)


if __name__ == "__main__":
    unittest.main()
