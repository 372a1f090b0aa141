"""Seeded input generators for the benchmark.

Everything the engine reads is made here from the workload seed: the
TPC-H-shaped tables (plus the documents / embeddings / events corpus of
the LLM-data operators), the dbt-native project of `dag_build` with one
DuckDB oracle per model, and the per-cycle source changes of
`incremental_cycles`. The same seed gives byte-identical files.

Randomness is DuckDB's `hash()` over (row, seed, tag), which is
deterministic for a given DuckDB version and independent of threading.
"""
import os
import random

import duckdb
import pyarrow.parquet as pq

# rows per unit of scale factor (the TPC-H ratios of the reference corpus)
ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
        "orders": 1_500_000, "documents": 50_000, "embeddings": 20_000,
        "events": 1_000_000}
VOCAB = ("a the data spark line column order small sort fast value scan "
         "hash slow group batch agg filter query big key window row part "
         "table stream merge join vector customer dup").split()
STATUSES = ("O", "F", "P")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def _u(seed, tag, *cols):
    """Uniform [0, 1) from (cols, seed, tag)."""
    return f"((hash({', '.join(cols)}, {seed}, '{tag}') % 1000003) / 1000003.0)"


def _pick(seed, tag, values, *cols):
    lst = "[" + ", ".join(f"'{v}'" for v in values) + "]"
    return f"{lst}[1 + CAST(hash({', '.join(cols)}, {seed}, '{tag}') % {len(values)} AS INTEGER)]"


def _write(con, sql, path):
    # pyarrow writer: the same parquet layout as the reference corpus
    # (timestamp[us] without zone, one row group per file)
    pq.write_table(con.sql(sql).arrow(), path, row_group_size=1 << 30)


def table_sql(name, seed, sf):
    """DuckDB SELECT producing one table of the corpus."""
    n = {k: max(1, int(v * sf)) for k, v in ROWS.items()}
    u = lambda tag, *c: _u(seed, tag, *(c or ("i",)))
    if name == "region":
        return ("SELECT CAST(i AS INTEGER) AS r_regionkey, "
                "['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name "
                "FROM range(5) t(i)")
    if name == "nation":
        return ("SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name, "
                "CAST(i % 5 AS INTEGER) AS n_regionkey FROM range(25) t(i)")
    if name == "customer":
        return (f"SELECT i AS c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name, "
                f"CAST(floor({u('cn')} * 25) AS INTEGER) AS c_nationkey, "
                f"round({u('cb')} * 10999.0 - 999.0, 2) AS c_acctbal, "
                f"{_pick(seed, 'cs', SEGMENTS, 'i')} AS c_mktsegment "
                f"FROM range({n['customer']}) t(i)")
    if name == "supplier":
        return (f"SELECT i AS s_suppkey, 'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name, "
                f"CAST(floor({u('sn')} * 25) AS INTEGER) AS s_nationkey, "
                f"round({u('sb')} * 10000.0, 2) AS s_acctbal FROM range({n['supplier']}) t(i)")
    if name == "part":
        adj = ("small", "red", "blue", "large", "steel", "green")
        noun = ("ring", "widget", "bolt", "gear", "valve", "panel")
        types = ("ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM", "SMALL")
        return (f"SELECT i AS p_partkey, {_pick(seed, 'pa', adj, 'i')} || ' ' || {_pick(seed, 'pn', noun, 'i')} AS p_name, "
                f"'Brand#' || (1 + hash(i, {seed}, 'pb') % 25) AS p_brand, "
                f"{_pick(seed, 'pt', types, 'i')} AS p_type, "
                f"CAST(1 + hash(i, {seed}, 'ps') % 50 AS INTEGER) AS p_size, "
                f"round(900.0 + (i % 1000) / 10.0, 2) AS p_retailprice FROM range({n['part']}) t(i)")
    if name == "orders":
        return (f"SELECT i AS o_orderkey, CAST(floor({u('oc')} * {n['customer']}) AS BIGINT) AS o_custkey, "
                f"{_pick(seed, 'os', STATUSES, 'i')} AS o_orderstatus, "
                f"round(1000.0 + {u('op')} * 499000.0, 2) AS o_totalprice, "
                f"TIMESTAMP '1995-01-01' + to_days(CAST(floor({u('od')} * 2404) AS INTEGER)) AS o_orderdate, "
                f"{_pick(seed, 'oq', PRIORITIES, 'i')} AS o_orderpriority FROM range({n['orders']}) t(i)")
    if name == "lineitem":
        # 1..7 lines per order (mean 4), shipped 1..121 days after the order
        return (f"WITH o AS ({table_sql('orders', seed, sf)}) "
                f"SELECT o_orderkey AS l_orderkey, "
                f"CAST(floor({u('lp', 'o_orderkey', 'j')} * {n['part']}) AS BIGINT) AS l_partkey, "
                f"CAST(floor({u('ls', 'o_orderkey', 'j')} * {n['supplier']}) AS BIGINT) AS l_suppkey, "
                f"CAST(j + 1 AS INTEGER) AS l_linenumber, "
                f"CAST(1 + hash(o_orderkey, j, {seed}, 'lq') % 50 AS DOUBLE) AS l_quantity, "
                f"round(900.0 + {u('le', 'o_orderkey', 'j')} * 104000.0, 2) AS l_extendedprice, "
                f"CAST(hash(o_orderkey, j, {seed}, 'ld') % 11 AS DOUBLE) / 100 AS l_discount, "
                f"CAST(hash(o_orderkey, j, {seed}, 'lt') % 9 AS DOUBLE) / 100 AS l_tax, "
                f"{_pick(seed, 'lr', ('A', 'N', 'R'), 'o_orderkey', 'j')} AS l_returnflag, "
                f"{_pick(seed, 'll', ('O', 'F'), 'o_orderkey', 'j')} AS l_linestatus, "
                f"o_orderdate + to_days(CAST(1 + hash(o_orderkey, j, {seed}, 'lh') % 121 AS INTEGER)) AS l_shipdate "
                f"FROM o, range(7) r(j) WHERE j <= hash(o_orderkey, {seed}, 'ln') % 7 "
                f"ORDER BY l_orderkey, l_linenumber")
    if name == "documents":
        # random texts over a small vocabulary; ~2% near-duplicates (one
        # word appended to an earlier doc) and ~0.5% exact duplicates give
        # the dedup operators real work
        base = (f"array_to_string(list_transform(range(CAST(8 + hash(k, {seed}, 'dl') % 85 AS BIGINT)), "
                f"j -> {_pick(seed, 'dw', VOCAB, 'k', 'j')}), ' ')")
        src = f"CASE WHEN {u('dd')} < 0.025 THEN CAST(floor({u('dk')} * i) AS BIGINT) ELSE i END"
        return (f"WITH d AS (SELECT i, {src} AS k, {u('dd')} AS r FROM range({n['documents']}) t(i)), "
                f"x AS (SELECT i, CASE WHEN k <> i AND r >= 0.005 THEN {base} || ' ' || {_pick(seed, 'dx', VOCAB, 'i')} "
                f"ELSE {base} END AS text FROM d) "
                f"SELECT i AS doc_id, text, "
                f"{_pick(seed, 'dg', ('en', 'en', 'en', 'es', 'zh', 'de', 'fr'), 'i')} AS lang, "
                f"'src' || (i % 20) AS source, CAST(length(text) AS BIGINT) AS n_chars FROM x ORDER BY i")
    if name == "embeddings":
        comp = (f"CAST(((hash(i, j, {seed}, 'e1') % 1000003) + (hash(i, j, {seed}, 'e2') % 1000003) "
                f"+ (hash(i, j, {seed}, 'e3') % 1000003) - 1500004.5) / 1000003.0 * 0.2 AS FLOAT)")
        return (f"SELECT i AS vec_id, list_transform(range(64), j -> {comp}) AS embedding, "
                f"CAST(hash(i, {seed}, 'el') % 10 AS INTEGER) AS label FROM range({n['embeddings']}) t(i)")
    if name == "events":
        # ids increase with time, as in the reference stream
        span_us = 30 * 86400 * 1_000_000
        return (f"SELECT i AS event_id, TIMESTAMP '2024-01-01' + to_microseconds(CAST("
                f"(i + {u('et')}) * {span_us} / {n['events']} AS BIGINT)) AS ts, "
                f"CAST(floor({u('eu')} * {max(1, n['events'] // 67)}) AS BIGINT) AS user_id, "
                f"{_pick(seed, 'ey', ('signup', 'click', 'error', 'view', 'purchase'), 'i')} AS event_type, "
                f"round({u('ev')} * {u('ew')} * 560.0, 2) AS value, "
                f"'{{\"k\": ' || (hash(i, {seed}, 'ek') % 100) || '}}' AS props "
                f"FROM range({n['events']}) t(i)")
    raise ValueError(name)


def gen_tables(out_dir, seed, sf, names):
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name in names:
        _write(con, table_sql(name, seed, sf), os.path.join(out_dir, f"{name}.parquet"))
    con.close()


# ----------------------------------------------------------------- dag_build

class DagProject:
    """A seeded dbt-native project: models with Spark/Jinja SQL and the
    matching DuckDB oracle SQL (upstream models referenced by name)."""

    # models per layer: every staging source kind, intermediate kind, Jinja
    # kind and mart kind at least once; with the seed and the snapshot,
    # 28 DAG nodes (the ephemeral is compiled inline)
    LAYERS = {"staging": 6, "intermediate": 8, "jinja": 6, "mart": 6}

    def __init__(self, seed, data_dir):
        self.rng = random.Random(seed)
        self.data_dir = data_dir
        self.models = {}      # name -> dict(sql, oracle, deps, layer, mat)
        self.tests = []       # (model, column, kind, extra)
        self.vars = {"min_qty": self.rng.randint(5, 20),
                     "big_order_cents": self.rng.randint(20, 40) * 1_000_000}
        self.weights = {s: self.rng.randint(1, 9) for s in SEGMENTS}
        self._build()

    def _add(self, name, layer, mat, sql, oracle, deps):
        self.models[name] = dict(sql=sql, oracle=oracle, deps=sorted(set(deps)),
                                 layer=layer, mat=mat)

    def _cfg(self, mat, extra=""):
        return f"{{{{ config(materialized='{mat}'{extra}) }}}}\n"

    def _build(self):
        r = self.rng
        # -- staging: views over the sources, each keeping a seeded 1/m slice
        stg = {"orders": [], "lineitem": [], "customer": [], "part": [], "supplier": []}
        for i in range(self.LAYERS["staging"]):
            kind = ["orders", "lineitem", "customer", "part", "supplier"][i % 5]
            m, res = r.randint(3, 9), None
            res = r.randint(0, m - 1)
            name = f"stg_{kind}_{i}"
            if kind == "orders":
                cols = ("o_orderkey, o_custkey, o_orderstatus, "
                        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents, "
                        "o_orderdate, o_orderpriority")
                where = f"o_orderkey % {m} = {res}"
            elif kind == "lineitem":
                cols = ("l_orderkey, l_partkey, l_suppkey, CAST(l_quantity AS BIGINT) AS qty, "
                        "CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents, "
                        "CAST(round(l_discount * 100) AS BIGINT) AS disc_pct, "
                        "l_returnflag, l_linestatus")
                where = f"l_partkey % {m} = {res}"
            elif kind == "customer":
                cols = ("c_custkey, c_nationkey, c_mktsegment, "
                        "CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents")
                where = f"c_custkey % {m} = {res}"
            elif kind == "part":
                cols = ("p_partkey, p_brand, p_type, p_size, "
                        "CAST(round(p_retailprice * 100) AS BIGINT) AS retail_cents")
                where = f"p_partkey % {m} = {res}"
            else:
                cols = ("s_suppkey, s_nationkey, "
                        "CAST(round(s_acctbal * 100) AS BIGINT) AS sbal_cents")
                where = f"s_suppkey % {m} = {res}"
            sql = (self._cfg("view") + f"SELECT {cols}\nFROM {{{{ source('tpch', '{kind}') }}}}\n"
                   f"WHERE {where}")
            self._add(name, "staging", "view", sql,
                      f"SELECT {cols} FROM src_{kind} WHERE {where}", [])
            stg[kind].append(name)
        self._add("eph_nation_region", "staging", "ephemeral",
                  self._cfg("ephemeral") +
                  "SELECT n.n_nationkey, n.n_name, r.r_name\n"
                  "FROM {{ source('tpch', 'nation') }} n\n"
                  "JOIN {{ source('tpch', 'region') }} r ON n.n_regionkey = r.r_regionkey",
                  "SELECT n.n_nationkey, n.n_name, r.r_name FROM src_nation n "
                  "JOIN src_region r ON n.n_regionkey = r.r_regionkey", [])

        # -- intermediate: tables and incremental merges
        inter = {"order_lines": [], "cust": [], "part_sales": [], "supp": []}
        for i in range(self.LAYERS["intermediate"]):
            kind = ["order_lines", "cust", "part_sales", "supp"][i % 4]
            name = f"int_{kind}_{i}"
            if kind == "order_lines":
                refs = dict(o=r.choice(stg["orders"]), l=r.choice(stg["lineitem"]))
                body = ("SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, "
                        "CAST(year(o.o_orderdate) AS INTEGER) AS yr, "
                        "CAST(sum(l.price_cents) AS BIGINT) AS gross_cents, "
                        "CAST(sum(l.qty) AS BIGINT) AS qty, count(*) AS n_lines\n"
                        "FROM {o} o JOIN {l} l ON o.o_orderkey = l.l_orderkey\n"
                        "GROUP BY o.o_orderkey, o.o_custkey, o.o_orderstatus, year(o.o_orderdate)")
                mat, extra = "table", ""
            elif kind == "cust":
                refs = dict(c=r.choice(stg["customer"]), e="eph_nation_region")
                body = ("SELECT c.c_custkey, c.c_mktsegment, e.n_name, e.r_name, c.bal_cents\n"
                        "FROM {c} c JOIN {e} e ON c.c_nationkey = e.n_nationkey")
                mat, extra = "table", ""
            elif kind == "part_sales":
                refs = dict(l=r.choice(stg["lineitem"]), p=r.choice(stg["part"]))
                body = ("SELECT p.p_partkey, p.p_brand, p.p_type, "
                        "CAST(sum(l.qty) AS BIGINT) AS qty, "
                        "CAST(sum(l.price_cents) AS BIGINT) AS sales_cents, count(*) AS n_lines\n"
                        "FROM {l} l JOIN {p} p ON l.l_partkey = p.p_partkey\n"
                        "GROUP BY p.p_partkey, p.p_brand, p.p_type")
                mat, extra = "incremental", ", unique_key='p_partkey'"
            else:
                refs = dict(s=r.choice(stg["supplier"]), e="eph_nation_region")
                body = ("SELECT s.s_suppkey, e.r_name, s.sbal_cents\n"
                        "FROM {s} s JOIN {e} e ON s.s_nationkey = e.n_nationkey")
                mat, extra = "table", ""
            deps = list(refs.values())
            sql = self._cfg(mat, extra) + body.format(
                **{k: f"{{{{ ref('{v}') }}}}" for k, v in refs.items()})
            oracle = body.format(**refs)
            self._add(name, "intermediate", mat, sql, oracle, deps)
            inter[kind].append(name)

        # -- Jinja: loops, macros and vars
        jin = []
        years = list(range(1995, 2002))
        for i in range(self.LAYERS["jinja"]):
            kind = ["status_pivot", "year_loop", "macro_bucket", "var_filter"][i % 4]
            name = f"jin_{kind}_{i}"
            if kind == "status_pivot":
                src = r.choice(inter["order_lines"])
                sql = (self._cfg("table") + "SELECT o_custkey,\n"
                       "{% for s in ['O', 'F', 'P'] %}"
                       "  CAST(sum(CASE WHEN o_orderstatus = '{{ s }}' THEN gross_cents ELSE 0 END) AS BIGINT) AS cents_{{ s }}"
                       "{% if not loop.last %},{% endif %}\n{% endfor %}"
                       f"FROM {{{{ ref('{src}') }}}}\nGROUP BY o_custkey")
                oracle = ("SELECT o_custkey, " + ", ".join(
                    f"CAST(sum(CASE WHEN o_orderstatus = '{s}' THEN gross_cents ELSE 0 END) AS BIGINT) AS cents_{s}"
                    for s in STATUSES) + f" FROM {src} GROUP BY o_custkey")
                deps = [src]
            elif kind == "year_loop":
                src = r.choice(inter["order_lines"])
                ys = sorted(r.sample(years, 4))
                lst = "[" + ", ".join(map(str, ys)) + "]"
                sql = (self._cfg("table") + "SELECT o_orderstatus,\n"
                       f"{{% for y in {lst} %}}"
                       "  CAST(sum(CASE WHEN yr = {{ y }} THEN qty ELSE 0 END) AS BIGINT) AS qty_{{ y }}"
                       "{% if not loop.last %},{% endif %}\n{% endfor %}"
                       f"FROM {{{{ ref('{src}') }}}}\nGROUP BY o_orderstatus")
                oracle = ("SELECT o_orderstatus, " + ", ".join(
                    f"CAST(sum(CASE WHEN yr = {y} THEN qty ELSE 0 END) AS BIGINT) AS qty_{y}"
                    for y in ys) + f" FROM {src} GROUP BY o_orderstatus")
                deps = [src]
            elif kind == "macro_bucket":
                src = r.choice(inter["part_sales"])
                w = r.choice([1000, 5000, 10000])
                sql = (self._cfg("table") +
                       f"SELECT {{{{ bucket(sales_cents, {w}) }}}} AS sales_bucket,\n"
                       "  count(*) AS n_parts, CAST(sum(qty) AS BIGINT) AS qty\n"
                       f"FROM {{{{ ref('{src}') }}}}\nGROUP BY {{{{ bucket(sales_cents, {w}) }}}}")
                b = f"((sales_cents) - ((sales_cents) % {w}))"
                oracle = (f"SELECT {b} AS sales_bucket, count(*) AS n_parts, "
                          f"CAST(sum(qty) AS BIGINT) AS qty FROM {src} GROUP BY {b}")
                deps = [src]
            else:
                src = r.choice(inter["order_lines"])
                mat = "view"   # fixed, so every seed has the same mix of kinds
                sql = (self._cfg(mat) + "SELECT o_orderkey, o_custkey, gross_cents, qty\n"
                       f"FROM {{{{ ref('{src}') }}}}\n"
                       "WHERE qty >= {{ var('min_qty') }} AND gross_cents >= {{ var('big_order_cents') }} / 10")
                oracle = (f"SELECT o_orderkey, o_custkey, gross_cents, qty FROM {src} "
                          f"WHERE qty >= {self.vars['min_qty']} "
                          f"AND gross_cents >= {self.vars['big_order_cents']} / 10")
                deps = [src]
                self._add(name, "jinja", mat, sql, oracle, deps)
                jin.append(name)
                continue
            self._add(name, "jinja", "table", sql, oracle, deps)
            jin.append(name)

        # -- marts: every one carries at least one schema test
        for i in range(self.LAYERS["mart"]):
            kind = ["cust_value", "segment", "status_year", "part_buckets"][i % 4]
            name = f"mart_{kind}_{i}"
            if kind == "cust_value":
                piv = r.choice([j for j in jin if "status_pivot" in j])
                cu = r.choice(inter["cust"])
                body = ("SELECT c.c_custkey, c.c_mktsegment, c.r_name, "
                        "CAST(p.cents_O + p.cents_F + p.cents_P AS BIGINT) AS total_cents\n"
                        "FROM {piv} p JOIN {cu} c ON p.o_custkey = c.c_custkey")
                refs, deps = dict(piv=piv, cu=cu), [piv, cu]
                self.tests += [(name, "c_custkey", "unique", None), (name, "c_custkey", "not_null", None)]
            elif kind == "segment":
                cu = r.choice(inter["cust"])
                body = ("SELECT c.c_mktsegment, count(*) AS n_cust, "
                        "CAST(sum(c.bal_cents) AS BIGINT) AS bal_cents, "
                        "CAST(count(*) * max(w.weight) AS BIGINT) AS weighted\n"
                        "FROM {cu} c JOIN {w} w ON c.c_mktsegment = w.c_mktsegment\n"
                        "GROUP BY c.c_mktsegment")
                refs, deps = dict(cu=cu, w="segment_weights"), [cu, "segment_weights"]
                self.tests += [(name, "c_mktsegment", "unique", None),
                               (name, "c_mktsegment", "accepted_values", list(SEGMENTS))]
            elif kind == "status_year":
                yl = r.choice([j for j in jin if "year_loop" in j])
                body = "SELECT * FROM {yl}"
                refs, deps = dict(yl=yl), [yl]
                self.tests += [(name, "o_orderstatus", "accepted_values", list(STATUSES))]
            else:
                mb = r.choice([j for j in jin if "macro_bucket" in j])
                vf = r.choice([j for j in jin if "var_filter" in j])
                body = ("SELECT b.sales_bucket, b.n_parts, b.qty, "
                        "(SELECT count(*) FROM {vf}) AS n_big_orders\nFROM {mb} b")
                refs, deps = dict(mb=mb, vf=vf), [mb, vf]
                self.tests += [(name, "sales_bucket", "unique", None),
                               (name, "sales_bucket", "not_null", None)]
            sql = self._cfg("table") + body.format(**{k: f"{{{{ ref('{v}') }}}}" for k, v in refs.items()})
            self._add(name, "mart", "table", sql, body.format(**refs), deps)

    # -- graph helpers
    def children(self):
        ch = {n: set() for n in list(self.models) + ["segment_weights", "cust_snap"]}
        for n, m in self.models.items():
            for d in m["deps"]:
                ch[d].add(n)
        return ch

    def cone(self, roots):
        ch, out, todo = self.children(), set(roots), list(roots)
        while todo:
            for c in ch[todo.pop()]:
                if c not in out:
                    out.add(c)
                    todo.append(c)
        return out

    def node_count(self):
        # models that materialize (not the ephemeral), the seed and the snapshot
        return sum(1 for m in self.models.values() if m["mat"] != "ephemeral") + 2

    def edit(self, share=0.25):
        """Seeded slim-CI edit: change the filter of staging models until
        their state:modified+ cone is about `share` of the DAG."""
        r = random.Random(self.rng.random())
        cands = [n for n, m in self.models.items() if m["layer"] == "staging" and m["mat"] == "view"]
        r.shuffle(cands)
        goal, chosen = share * self.node_count(), []
        for c in cands:
            cone = self.cone(chosen + [c])
            if len(cone) <= goal * 1.3:
                chosen.append(c)
            if len(self.cone(chosen)) >= goal * 0.8:
                break
        for c in chosen:
            m = self.models[c]
            k = r.randint(2, 5)
            key = {"orders": "o_orderkey", "lineitem": "l_orderkey", "customer": "c_nationkey",
                   "part": "p_size", "supplier": "s_nationkey"}[c.split("_")[1]]
            m["sql"] += f" AND {key} % 7 <> {k}"
            m["oracle"] += f" AND {key} % 7 <> {k}"
        return sorted(chosen)

    # -- files
    def write(self, proj_dir):
        os.makedirs(os.path.join(proj_dir, "models"), exist_ok=True)
        for sub in ("seeds", "snapshots", "macros"):
            os.makedirs(os.path.join(proj_dir, sub), exist_ok=True)
        vars_yml = "".join(f"  {k}: {v}\n" for k, v in self.vars.items())
        _put(proj_dir, "dbt_project.yml",
             f"name: 'bench_dag'\nconfig-version: 2\nvars:\n{vars_yml}"
             "models:\n  bench_dag:\n    +materialized: table\n"
             "seeds:\n  bench_dag:\n    segment_weights:\n      +column_types: {weight: int}\n")
        for n, m in self.models.items():
            _put(proj_dir, f"models/{m['layer']}/{n}.sql", m["sql"] + "\n")
        tables = "".join(
            f"      - name: {t}\n        meta:\n          external_location: "
            f"{os.path.join(self.data_dir, t)}.parquet\n"
            for t in ("orders", "lineitem", "customer", "part", "supplier", "nation", "region"))
        _put(proj_dir, "models/sources.yml", f"version: 2\nsources:\n  - name: tpch\n    tables:\n{tables}")
        by_model = {}
        for model, col, kind, extra in self.tests:
            by_model.setdefault(model, {}).setdefault(col, []).append((kind, extra))
        lines = ["version: 2", "models:"]
        for model, cols in by_model.items():
            lines += [f"  - name: {model}", "    columns:"]
            for col, tests in cols.items():
                lines += [f"      - name: {col}", "        tests:"]
                for kind, extra in tests:
                    if kind == "accepted_values":
                        vals = ", ".join(f"'{v}'" for v in extra)
                        lines += ["          - accepted_values:", f"              values: [{vals}]"]
                    else:
                        lines.append(f"          - {kind}")
        _put(proj_dir, "models/schema.yml", "\n".join(lines) + "\n")
        _put(proj_dir, "seeds/segment_weights.csv",
             "c_mktsegment,weight\n" + "".join(f"{s},{w}\n" for s, w in self.weights.items()))
        _put(proj_dir, "snapshots/cust_snap.sql",
             "{% snapshot cust_snap %}\n"
             "{{ config(unique_key='c_custkey', strategy='check', check_cols=['c_acctbal', 'c_mktsegment']) }}\n"
             "SELECT c_custkey, c_mktsegment, c_acctbal FROM {{ source('tpch', 'customer') }}\n"
             "{% endsnapshot %}\n")
        _put(proj_dir, "macros/bucket.sql",
             "{% macro bucket(c, w) %}(({{ c }}) - (({{ c }}) % {{ w }})){% endmacro %}\n")

    def oracle(self):
        """Models in dependency order with their DuckDB SQL; snapshot and
        seed checks are expressed over the same named relations."""
        order, seen = [], set()

        def visit(n):
            if n in seen or n == "segment_weights":
                return
            seen.add(n)
            for d in self.models[n]["deps"]:
                visit(d)
            order.append(n)
        for n in sorted(self.models):
            visit(n)
        checks = {n: f"SELECT * FROM {n}" for n in order if self.models[n]["mat"] != "ephemeral"}
        checks["segment_weights"] = "SELECT * FROM segment_weights"
        checks["cust_snap"] = ("SELECT c_custkey, c_mktsegment, c_acctbal FROM src_customer")
        return {"order": [(n, self.models[n]["oracle"]) for n in order],
                "checks": checks,
                "weights": self.weights,
                "n_nodes": self.node_count(),
                "n_tests": len(self.tests)}


def _put(root, rel, text):
    p = os.path.join(root, rel)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    with open(p, "w") as f:
        f.write(text)


def gen_dag_build(work, seed):
    """Tables at sf0.01, the project as built in prod (`proj_full`) and
    its seeded edit (`proj_ci`); returns the oracle plan for both."""
    data = os.path.join(work, "data")
    gen_tables(data, seed, 0.01, ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"))
    prod = DagProject(seed, data)
    prod.write(os.path.join(work, "proj_full"))
    ci = DagProject(seed, data)
    edited = ci.edit()
    ci.write(os.path.join(work, "proj_ci"))
    cone = sorted(ci.cone(edited))
    plan = {"full": prod.oracle(), "ci": ci.oracle(), "edited": edited, "cone": cone}
    return plan


# --------------------------------------------------------- incremental_cycles

CYCLE_SF = 0.02         # 30,000 orders, ~120,000 lineitems
CYCLE_KEYS0 = 24_000    # keys present before the first cycle
CYCLE_STEP = 500        # new keys per cycle
CYCLES = 12             # cycles generated, up to the last key; a run uses as many as fit


def gen_incremental(work, seed):
    """Orders / lineitem plus the per-cycle changes: order keys
    past a rising cutoff arrive each cycle, and ~2% of the live keys get
    a new status / price with an advanced `updated_at`."""
    data = os.path.join(work, "data")
    gen_tables(data, seed, CYCLE_SF, ("orders", "lineitem"))
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    n_orders = int(ROWS["orders"] * CYCLE_SF)
    # updates: for cycle c >= 1, about 2% of the keys live at c (< cutoff)
    upd = (f"SELECT CAST(c AS INTEGER) AS cycle, k AS o_orderkey, "
           f"{_pick(seed, 'us', STATUSES, 'k', 'c')} AS o_orderstatus, "
           f"round(1000.0 + {_u(seed, 'up', 'k', 'c')} * 499000.0, 2) AS o_totalprice "
           f"FROM range(1, {CYCLES + 1}) a(c), range({n_orders}) b(k) "
           f"WHERE k < {CYCLE_KEYS0} + c * {CYCLE_STEP} AND hash(k, c, {seed}, 'uu') % 50 = 0 "
           f"ORDER BY cycle, o_orderkey")
    _write(con, upd, os.path.join(data, "order_updates.parquet"))
    con.close()
    proj = os.path.join(work, "proj_cycles")
    for name, sql in CYCLE_MODELS.items():
        _put(proj, f"models/{name}.sql", sql.strip() + "\n")
    for name, sql in CYCLE_SNAPSHOTS.items():
        _put(proj, f"snapshots/{name}.sql", sql.strip() + "\n")
    tables = "".join(f"      - name: {t}\n        meta:\n          external_location: "
                     f"{os.path.join(data, t)}.parquet\n" for t in ("orders", "lineitem", "order_updates"))
    _put(proj, "models/sources.yml", f"version: 2\nsources:\n  - name: tpch\n    tables:\n{tables}")
    _put(proj, "models/schema.yml", CYCLE_SCHEMA)
    _put(proj, "dbt_project.yml", "name: 'bench_cycles'\nconfig-version: 2\n")
    return {"keys0": CYCLE_KEYS0, "step": CYCLE_STEP, "cycles": CYCLES, "proj": proj, "data": data}


# The cycle project. The staging view applies every update up to the
# current cycle (latest wins) to the orders below the current cutoff.
CYCLE_MODELS = {
    "stg_orders": """
{{ config(materialized='view') }}
WITH upd AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, cycle,
         row_number() OVER (PARTITION BY o_orderkey ORDER BY cycle DESC) AS rn
  FROM {{ source('tpch', 'order_updates') }}
  WHERE cycle <= {{ env_var('CYCLE') }}
)
SELECT o.o_orderkey, o.o_custkey,
  coalesce(u.o_orderstatus, o.o_orderstatus) AS o_orderstatus,
  CAST(round(coalesce(u.o_totalprice, o.o_totalprice) * 100) AS BIGINT) AS cents,
  o.o_orderdate,
  CAST(coalesce(u.cycle, 0) AS INT) AS version,
  o.o_orderdate + make_interval(0, 0, 0, coalesce(u.cycle, 0)) AS updated_at
FROM {{ source('tpch', 'orders') }} o
LEFT JOIN upd u ON o.o_orderkey = u.o_orderkey AND u.rn = 1
WHERE o.o_orderkey < {{ env_var('CUTOFF') }}
""",
    "orders_merge": """
{{ config(materialized='incremental', unique_key='o_orderkey') }}
SELECT * FROM {{ ref('stg_orders') }}
{% if is_incremental() %}
WHERE version > (SELECT max(version) FROM {{ this }})
   OR o_orderkey > (SELECT max(o_orderkey) FROM {{ this }})
{% endif %}
""",
    "lineitem_part": """
{{ config(materialized='incremental', incremental_strategy='insert_overwrite', partition_by='okey_k') }}
SELECT l_orderkey, l_linenumber, CAST(l_quantity AS BIGINT) AS qty,
  CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
  CAST(l_orderkey DIV 2500 AS INT) AS okey_k
FROM {{ source('tpch', 'lineitem') }}
WHERE l_orderkey < {{ env_var('CUTOFF') }}
{% if is_incremental() %}
  AND l_orderkey DIV 2500 >= _dbt_max_partition
{% endif %}
""",
    "orders_status_mv": """
{{ config(materialized='materialized_view') }}
SELECT o_orderstatus, count(*) AS n, sum(cents) AS cents
FROM {{ ref('orders_merge') }} GROUP BY o_orderstatus
""",
}
CYCLE_SNAPSHOTS = {
    "orders_snap_ts": """
{% snapshot orders_snap_ts %}
{{ config(unique_key='o_orderkey', strategy='timestamp', updated_at='updated_at') }}
SELECT o_orderkey, o_orderstatus, cents, updated_at FROM {{ ref('stg_orders') }}
{% endsnapshot %}
""",
    "orders_snap_chk": """
{% snapshot orders_snap_chk %}
{{ config(unique_key='o_orderkey', strategy='check', check_cols=['o_orderstatus', 'cents']) }}
SELECT o_orderkey, o_orderstatus, cents FROM {{ ref('stg_orders') }}
{% endsnapshot %}
""",
}
CYCLE_SCHEMA = """version: 2
models:
  - name: orders_merge
    columns:
      - name: o_orderkey
        tests:
          - unique
          - not_null
  - name: lineitem_part
    columns:
      - name: okey_k
        tests:
          - not_null
  - name: orders_status_mv
    columns:
      - name: o_orderstatus
        tests:
          - accepted_values:
              values: ['O', 'F', 'P']
"""
