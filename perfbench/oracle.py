"""DuckDB correctness checks of the engine's outputs.

Each check compares a result exported by the harness with the same
relation computed independently by DuckDB, canonicalised the way
`tools/validate.py` does it: columns sorted by name, rows sorted, floats
to 15 significant digits. Every check is one operation; a mismatch is a
failed operation.
"""
import glob
import hashlib
import math
import os

import duckdb


def canon(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    out = []
    for r in rows:
        vals = []
        for i in idx:
            v = r[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else f"{v:.15g}"
            vals.append(str(v))
        out.append("\x01".join(vals))
    out.sort()
    return out


class Checker:
    def __init__(self, scratch):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        self.con.execute(f"SET temp_directory = '{scratch}/duckdb'")
        self.attempted = 0
        self.failures = []
        self.results = hashlib.sha256()  # over every canonical engine result

    def view(self, name, parquet):
        self.con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{parquet}')")

    def engine(self, export_dir):
        files = glob.glob(os.path.join(export_dir, "*.parquet"))
        return f"read_parquet({files!r})" if files else None

    def compare(self, label, engine_sql, oracle_sql):
        """Counts one check: the two queries return the same multiset."""
        self.attempted += 1
        try:
            a = self.con.sql(engine_sql)
            acols, arows = [c.lower() for c in a.columns], a.fetchall()
            b = self.con.sql(oracle_sql)
            bcols, brows = [c.lower() for c in b.columns], b.fetchall()
        except Exception as e:  # a query that cannot run is a failed check
            self.failures.append(f"{label}: {str(e).splitlines()[0]}")
            return False
        if sorted(acols) != sorted(bcols):
            self.failures.append(f"{label}: columns {sorted(acols)} != {sorted(bcols)}")
            return False
        ca, cb = canon(arows, acols), canon(brows, bcols)
        self.results.update("\x02".join([label] + ca).encode())
        if ca != cb:
            sb, sa = set(cb), set(ca)
            extra = next((x for x in ca if x not in sb), None)
            missing = next((x for x in cb if x not in sa), None)
            self.failures.append(f"{label}: {len(ca)} rows vs {len(cb)} expected; "
                                 f"engine-only {extra!r}, oracle-only {missing!r}")
            return False
        return True

    def require(self, label, ok, detail=""):
        self.attempted += 1
        if not ok:
            self.failures.append(f"{label}: {detail}")


def check_dag_build(scratch, plan, data_dir, proj_dirs, exports):
    c = Checker(scratch)
    for t in ("orders", "lineitem", "customer", "part", "supplier", "nation", "region"):
        c.view(f"src_{t}", os.path.join(data_dir, f"{t}.parquet"))
    for tag in ("full", "ci"):
        p = plan[tag]
        c.con.execute(f"CREATE SCHEMA IF NOT EXISTS s_{tag}")
        c.con.execute(f"SET schema = 's_{tag}'")
        c.con.execute("CREATE TABLE segment_weights AS SELECT c_mktsegment, CAST(weight AS INTEGER) AS weight "
                      f"FROM read_csv('{proj_dirs[tag]}/seeds/segment_weights.csv', header = true, "
                      "columns = {'c_mktsegment': 'VARCHAR', 'weight': 'INTEGER'})")
        for name, sql in p["order"]:
            c.con.execute(f"CREATE TABLE {name} AS {sql}")
        names = plan["cone"] if tag == "ci" else sorted(p["checks"])
        for name in names:
            if name not in p["checks"]:
                continue
            src = c.engine(exports.get(f"{tag}/{name}", ""))
            if src is None:
                c.require(f"{tag}/{name}", False, "no exported output")
                continue
            if name == "cust_snap":
                c.compare(f"{tag}/{name}", f"SELECT c_custkey, c_mktsegment, c_acctbal FROM {src} "
                          "WHERE dbt_valid_to IS NULL", p["checks"][name])
            else:
                c.compare(f"{tag}/{name}", f"SELECT * FROM {src}", p["checks"][name])
    return c


def stg_sql(data_dir, cycle, cutoff):
    """DuckDB twin of the cycle project's staging view."""
    return f"""
        WITH upd AS (
          SELECT o_orderkey, o_orderstatus, o_totalprice, cycle,
                 row_number() OVER (PARTITION BY o_orderkey ORDER BY cycle DESC) AS rn
          FROM read_parquet('{data_dir}/order_updates.parquet') WHERE cycle <= {cycle})
        SELECT o.o_orderkey, o.o_custkey,
          coalesce(u.o_orderstatus, o.o_orderstatus) AS o_orderstatus,
          CAST(round(coalesce(u.o_totalprice, o.o_totalprice) * 100) AS BIGINT) AS cents,
          o.o_orderdate, CAST(coalesce(u.cycle, 0) AS INTEGER) AS version,
          o.o_orderdate + to_days(CAST(coalesce(u.cycle, 0) AS INTEGER)) AS updated_at
        FROM read_parquet('{data_dir}/orders.parquet') o
        LEFT JOIN upd u ON o.o_orderkey = u.o_orderkey AND u.rn = 1
        WHERE o.o_orderkey < {cutoff}"""


def check_incremental(scratch, meta, cycle, exports, corpus, ops_sql):
    """The last cycle's outputs against a full recomputation, the
    snapshot invariants, and the LLM-data stage's entries against
    `SparkEntry.oracleSql`."""
    c = Checker(scratch)
    check_operators(c, corpus, ops_sql, exports)
    cutoff = meta["keys0"] + cycle * meta["step"]
    data = meta["data"]
    c.con.execute(f"CREATE TABLE stg AS {stg_sql(data, cycle, cutoff)}")
    src = {n: c.engine(exports.get(n, "")) for n in
           ("orders_merge", "lineitem_part", "orders_status_mv", "orders_snap_ts", "orders_snap_chk")}
    for n, s in src.items():
        if s is None:
            c.require(n, False, "no exported output")
            return c
    c.compare("orders_merge", f"SELECT * FROM {src['orders_merge']}", "SELECT * FROM stg")
    c.compare("lineitem_part", f"SELECT * FROM {src['lineitem_part']}",
              "SELECT l_orderkey, l_linenumber, CAST(l_quantity AS BIGINT) AS qty, "
              "CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents, "
              "CAST(l_orderkey // 2500 AS INTEGER) AS okey_k "
              f"FROM read_parquet('{data}/lineitem.parquet') WHERE l_orderkey < {cutoff}")
    c.compare("orders_status_mv", f"SELECT * FROM {src['orders_status_mv']}",
              "SELECT o_orderstatus, count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents "
              "FROM stg GROUP BY o_orderstatus")
    for snap, cols in (("orders_snap_ts", "o_orderkey, o_orderstatus, cents, updated_at"),
                       ("orders_snap_chk", "o_orderkey, o_orderstatus, cents")):
        dup = c.con.sql(f"SELECT count(*) FROM (SELECT o_orderkey FROM {src[snap]} "
                        "WHERE dbt_valid_to IS NULL GROUP BY o_orderkey HAVING count(*) > 1)").fetchone()[0]
        c.require(f"{snap} one open row per key", dup == 0, f"{dup} keys with several open rows")
        c.compare(f"{snap} open rows equal the last source",
                  f"SELECT {cols} FROM {src[snap]} WHERE dbt_valid_to IS NULL", f"SELECT {cols} FROM stg")
    return c


def check_operators(c, corpus, oracle_sql, exports):
    for p in glob.glob(os.path.join(corpus, "*.parquet")):
        c.view(os.path.basename(p)[:-len(".parquet")], p)
    for name, sql in sorted(oracle_sql.items()):
        src = c.engine(exports.get(name, ""))
        if src is None:
            c.require(name, False, "no exported output")
            continue
        c.compare(name, f"SELECT * FROM {src}", sql)
