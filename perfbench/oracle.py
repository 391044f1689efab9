"""Output checks, computed apart from the engine: DuckDB over the same
generated inputs. Each check returns None when the output is right and a
short reason when it is not.

Results are compared in the canonical form of scripts/check_correctness.py
(columns sorted by name, rows sorted, NULL/NaN/bool/list spelled out), with
one difference: floats match within a relative tolerance of 1e-9, so a sum
taken in another order still matches.
"""
import glob
import json
import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))
from check_correctness import TABLES, canon  # noqa: E402

REL_TOL = 1e-9


def _coarse(v):
    """Sort key that floats differing in the last digits share."""
    if isinstance(v, float) and not math.isnan(v) and not math.isinf(v):
        return f"{v:.6g}"
    if isinstance(v, list):
        return "[" + ",".join(_coarse(x) for x in v) + "]"
    return canon(v)


def _close(a, b):
    if isinstance(a, float) and isinstance(b, (float, int)) or isinstance(b, float) and isinstance(a, int):
        a, b = float(a), float(b)
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-12)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return canon(a) == canon(b)


def same(cols_a, rows_a, cols_b, rows_b):
    """None if the two relations are equal as multisets, else a reason."""
    oa = sorted(range(len(cols_a)), key=lambda i: cols_a[i])
    ob = sorted(range(len(cols_b)), key=lambda i: cols_b[i])
    if [cols_a[i] for i in oa] != [cols_b[i] for i in ob]:
        return f"columns {sorted(cols_a)} vs {sorted(cols_b)}"
    if len(rows_a) != len(rows_b):
        return f"{len(rows_a)} vs {len(rows_b)} rows"
    ra = [tuple(r[i] for i in oa) for r in rows_a]
    rb = [tuple(r[i] for i in ob) for r in rows_b]
    if sorted("|".join(map(canon, r)) for r in ra) == sorted("|".join(map(canon, r)) for r in rb):
        return None
    key = lambda r: "|".join(map(_coarse, r))
    for x, y in zip(sorted(ra, key=key), sorted(rb, key=key)):
        if not all(_close(p, q) for p, q in zip(x, y)):
            return f"first difference: {tuple(map(canon, x))} vs {tuple(map(canon, y))}"[:300]
    return None


def _rel(con, sql):
    r = con.sql(sql)
    return r.columns, r.fetchall()


def _parquet(path):
    return f"read_parquet('{path}/*.parquet')"


class Oracle:
    def __init__(self, inputs):
        self.inputs = inputs
        self.con = duckdb.connect()
        self.con.sql("SET threads TO 1")
        self.memo = {}

    # -------------------------------------------------------------- queries
    def query(self, spec):
        name = spec["name"]
        if name not in self.memo:
            self.memo[name] = self._query(spec)
        return self.memo[name]

    def _query(self, spec):
        if spec.get("error"):
            return f"error: {spec['error']}"
        if not glob.glob(os.path.join(spec["dir"], "*.parquet")):
            return "no output"
        if spec.get("oracle") is None:
            return None  # not SQL-expressible: ran, nothing to compare
        if not getattr(self, "_tables", False):
            for t in TABLES:
                self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.inputs}/{t}.parquet'")
            self._tables = True
        try:
            ocols, orows = _rel(self.con, spec["oracle"])
        except duckdb.Error as e:
            return f"oracle error: {e}"[:300]
        scols, srows = _rel(self.con, f"SELECT * FROM {_parquet(spec['dir'])}")
        return same(scols, srows, ocols, orows)

    # ------------------------------------------------ mv_freshness, mv_join
    def _agg_tables(self):
        if getattr(self, "_agg", False):
            return
        d = self.inputs
        self.con.sql(f"""CREATE TABLE agg_changes AS
            SELECT k, v, 1::BIGINT AS diff, 0 AS b FROM '{d}/agg/base.parquet'
            UNION ALL SELECT k, v, diff, CAST(regexp_extract(filename, 'batch-(\\d+)', 1) AS INT)
            FROM read_parquet('{d}/agg/batch-*.parquet', filename = true)""")
        self.con.sql("CREATE TABLE peek_keys (b INT, k BIGINT)")
        keys = json.load(open(os.path.join(d, "agg", "meta.json")))["keys"]
        for b, ks in enumerate(keys, start=1):
            self.con.executemany("INSERT INTO peek_keys VALUES (?, ?)", [(b, k) for k in ks])
        self._agg = True

    def _join_tables(self):
        if getattr(self, "_join", False):
            return
        for i, c in {0: "okey, a", 1: "okey, ckey", 2: "ckey, c"}.items():
            self.con.sql(f"""CREATE TABLE join_changes{i} AS
                SELECT {c}, 1::BIGINT AS diff, 0 AS b FROM '{self.inputs}/join/in{i}.parquet'
                UNION ALL SELECT {c}, diff, CAST(regexp_extract(filename, 'batch-(\\d+)', 1) AS INT)
                FROM read_parquet('{self.inputs}/join/batch-*-in{i}.parquet', filename = true)""")
        self._join = True

    def _agg_upto(self, b, where):
        return _rel(self.con, f"""SELECT k, sum(diff) AS support, sum(v * diff) AS s
            FROM agg_changes WHERE b <= {b} AND ({where}) GROUP BY k HAVING sum(diff) > 0""")

    def peek(self, spec):
        self._agg_tables()
        b = spec["batch"]
        cols, rows = self._agg_upto(b, f"k IN (SELECT k FROM peek_keys WHERE b = {b})")
        return same(["k", "support", "s"], [tuple(r) for r in spec["rows"]], cols, rows)

    def peek_null(self, spec):
        self._agg_tables()
        cols, rows = self._agg_upto(spec["batch"], "k IS NULL")
        return same(["k", "support", "s"], [tuple(r) for r in spec["rows"]], cols, rows)

    def agg_final(self, spec):
        self._agg_tables()
        cols, rows = self._agg_upto(spec["batches"], "true")
        return same(*_rel(self.con, f"SELECT * FROM {_parquet(spec['dir'])}"), cols, rows)

    def join_final(self, spec):
        self._join_tables()
        b = spec["batches"]
        live = lambda i, c: f"""(SELECT {c}, sum(diff) AS m FROM join_changes{i}
            WHERE b <= {b} GROUP BY ALL HAVING sum(diff) > 0)"""
        cols, rows = _rel(self.con, f"""SELECT okey, a, ckey, c, sum(i0.m * i1.m * i2.m) AS diff
            FROM {live(0, 'okey, a')} i0 JOIN {live(1, 'okey, ckey')} i1 USING (okey)
            JOIN {live(2, 'ckey, c')} i2 USING (ckey) GROUP BY ALL""")
        return same(*_rel(self.con, f"SELECT * FROM {_parquet(spec['dir'])}"), cols, rows)

    def property(self, spec):
        """tableAt(v-1) ⊎ deltaAt(v) = tableAt(v), over the non-NULL groups."""
        p = spec["dir"]
        lhs = _rel(self.con, f"""SELECT k, support, s, sum(d) AS n FROM (
                SELECT k, support, s, 1::BIGINT AS d FROM {_parquet(p + '/prev')}
                UNION ALL SELECT k, support, s, diff FROM {_parquet(p + '/delta')})
            WHERE k IS NOT NULL GROUP BY ALL HAVING sum(d) <> 0""")
        rhs = _rel(self.con, f"""SELECT k, support, s, count(*) AS n
            FROM {_parquet(p + '/cur')} WHERE k IS NOT NULL GROUP BY ALL""")
        return same(*lhs, *rhs)

    # -------------------------------------------------------- upsert_stream
    def upsert_final(self, spec):
        cols, rows = _rel(self.con, f"""SELECT key, value FROM (
                SELECT key, value, row_number() OVER (PARTITION BY key ORDER BY "offset" DESC) AS rn
                FROM read_parquet('{self.inputs}/upsert/log/*.parquet'))
            WHERE rn = 1 AND value IS NOT NULL""")
        return same(*_rel(self.con, f"SELECT * FROM {_parquet(spec['dir'])}"), cols, rows)

    def upsert_batches(self, spec):
        chunks = json.load(open(os.path.join(self.inputs, "upsert", "meta.json")))["chunks"]
        n = spec["batches"]
        return None if n == chunks else f"{n} micro-batches for {chunks} chunks"

    def replay(self, spec):
        return None if spec["ok"] else "re-applied batch id changed the committed state"

    def check(self, kind, spec):
        return getattr(self, kind)(spec)
