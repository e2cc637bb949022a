"""Output checks made apart from the program, in DuckDB.

Medallion lakes: DuckDB reads the staged bronze CSVs, applies the silver
rules (dedup on the domain id, null checks on required columns, enum and
quantity checks, the sales total fix), and recomputes the seven gold tables.
Each lake's silver must equal the recomputed silver row for row, its counts
must equal the generator's manifest, and every gold snapshot it published
must equal the gold recomputed over the bronze files landed up to that
snapshot (type-strict, exact values).

Operator suite: each query's parquet result is compared type-strictly and
cell by cell with DuckDB running the query's oracle SQL over the same tables.
Oracle answers are cached under the cache directory, keyed by a hash of the
SQL and the table files; `python3 perfbench/run.py --oracle-cache` rebuilds
them.
"""
import glob
import hashlib
import math
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import gen

BRONZE_TYPES = {
    "sales": {"sale_id": "VARCHAR", "timestamp": "VARCHAR", "customer_id": "VARCHAR",
              "product_id": "VARCHAR", "product_name": "VARCHAR", "category": "VARCHAR",
              "quantity": "DOUBLE", "unit_price": "DOUBLE", "total_amount": "DOUBLE",
              "payment_method": "VARCHAR", "status": "VARCHAR"},
    "customer_events": {"event_id": "VARCHAR", "timestamp": "VARCHAR",
                        "customer_id": "VARCHAR", "session_id": "VARCHAR",
                        "event_type": "VARCHAR", "product_id": "VARCHAR",
                        "page_url": "VARCHAR", "device_type": "VARCHAR"},
    "inventory": {"movement_id": "VARCHAR", "timestamp": "VARCHAR", "product_id": "VARCHAR",
                  "product_name": "VARCHAR", "warehouse_id": "VARCHAR",
                  "movement_type": "VARCHAR", "quantity": "DOUBLE", "unit_cost": "DOUBLE",
                  "supplier_id": "VARCHAR"},
}
ID = {"sales": "sale_id", "customer_events": "event_id", "inventory": "movement_id"}
REQUIRED = {
    "sales": ["sale_id", "timestamp", "customer_id", "product_id", "quantity", "unit_price",
              "total_amount"],
    "customer_events": ["event_id", "timestamp", "customer_id", "session_id", "event_type"],
    "inventory": ["movement_id", "timestamp", "product_id", "warehouse_id", "movement_type",
                  "quantity"],
}
CHECKS = {
    "sales": [],
    "customer_events": [
        ("event_type IS NOT NULL AND event_type NOT IN "
         "('login', 'browse', 'add_to_cart', 'checkout', 'logout')", "INVALID_EVENT_TYPE")],
    "inventory": [
        ("movement_type IS NOT NULL AND movement_type NOT IN "
         "('inbound', 'outbound', 'adjustment')", "INVALID_MOVEMENT_TYPE"),
        ("quantity IS NOT NULL AND quantity <= 0", "NON_POSITIVE_QUANTITY")],
}

# Gold recomputes over valid silver rows `v` (with `date`), one per table.
GOLD = {
    "daily_sales_summary": ("sales", """
        SELECT date, round(sum(total_amount), 2) AS total_revenue,
               count(DISTINCT sale_id) AS order_count,
               round(sum(total_amount), 2) / count(total_amount) AS avg_order_value,
               count(DISTINCT customer_id) AS unique_customers
        FROM v GROUP BY date"""),
    "category_sales_summary": ("sales", """
        SELECT date, category, round(sum(total_amount), 2) AS category_revenue,
               count(DISTINCT sale_id) AS category_orders,
               round(sum(unit_price), 2) / count(unit_price) AS avg_unit_price
        FROM v GROUP BY date, category"""),
    "payment_method_summary": ("sales", """
        SELECT date, payment_method, round(sum(total_amount), 2) AS payment_revenue,
               count(DISTINCT sale_id) AS payment_count
        FROM v GROUP BY date, payment_method"""),
    "customer_activity_summary": ("customer_events", """
        SELECT date, event_type, count(event_id) AS event_count,
               count(DISTINCT customer_id) AS unique_customers,
               count(DISTINCT session_id) AS unique_sessions
        FROM v GROUP BY date, event_type"""),
    "device_usage_summary": ("customer_events", """
        SELECT date, device_type, count(DISTINCT session_id) AS session_count,
               count(event_id) AS event_count
        FROM v GROUP BY date, device_type"""),
    "inventory_movement_summary": ("inventory", """
        SELECT date, product_id, product_name, warehouse_id, movement_type,
               round(sum(quantity), 2) AS total_quantity,
               round(sum(unit_cost), 2) AS total_cost,
               count(movement_id) AS movement_count
        FROM v GROUP BY date, product_id, product_name, warehouse_id, movement_type"""),
    "inventory_net_position": ("inventory", """
        SELECT date, product_id, product_name, warehouse_id,
               sum(CASE WHEN movement_type = 'inbound' THEN quantity ELSE 0.0 END) AS inbound,
               sum(CASE WHEN movement_type = 'outbound' THEN quantity ELSE 0.0 END) AS outbound,
               sum(CASE WHEN movement_type = 'adjustment' THEN quantity ELSE 0.0 END)
                 AS adjustment,
               sum(CASE WHEN movement_type = 'inbound' THEN quantity ELSE 0.0 END)
                 - sum(CASE WHEN movement_type = 'outbound' THEN quantity ELSE 0.0 END)
                 AS net_position
        FROM v GROUP BY date, product_id, product_name, warehouse_id"""),
}


def connect(tmp_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 1")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    return con


def lit_list(paths):
    return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


def load_expected(con, in_dir, manifest):
    """Expected silver per domain as tables `exp_<domain>`, each row tagged with
    the index of the landing (drain) that brought it."""
    for domain in gen.DOMAINS:
        cols = BRONZE_TYPES[domain]
        parts = []
        for i, landing in enumerate(manifest["landings"]):
            files = [os.path.join(in_dir, f) for f in landing
                     if manifest["files"][f]["domain"] == domain]
            if files:
                spec = "{" + ", ".join(f"'{c}': '{t}'" for c, t in cols.items()) + "}"
                parts.append(f"SELECT *, {i} AS landing FROM read_csv({lit_list(files)}, "
                             f"header = true, auto_detect = false, columns = {spec})")
        errors = " || ".join(
            [f"CASE WHEN {c} IS NULL THEN 'NULL:{c}; ' ELSE '' END" for c in REQUIRED[domain]] +
            [f"CASE WHEN {p} THEN '{code}; ' ELSE '' END" for p, code in CHECKS[domain]])
        fixed = ("CASE WHEN quantity IS NOT NULL AND unit_price IS NOT NULL AND "
                 "abs(total_amount - round(quantity * unit_price, 2)) > 0.01 "
                 "THEN round(quantity * unit_price, 2) ELSE total_amount END AS total_amount"
                 if domain == "sales" else None)
        select = ", ".join(
            ("CAST(TRY_CAST(timestamp AS TIMESTAMPTZ) AS TIMESTAMP) AS timestamp"
             if c == "timestamp" else fixed if c == "total_amount" else c) for c in cols)
        if domain == "sales":
            select += ", total_amount AS bronze_total"
        con.execute(f"""
            CREATE OR REPLACE TABLE exp_{domain} AS
            WITH b AS ({' UNION ALL '.join(parts)}),
            d AS (SELECT * FROM b QUALIFY row_number() OVER (
                    PARTITION BY landing, {ID[domain]} ORDER BY timestamp) = 1),
            s AS (SELECT {select}, landing FROM d),
            e AS (SELECT *, trim({errors}) AS validation_errors FROM s)
            SELECT *, validation_errors = '' AS is_valid FROM e""")


def manifest_counts(manifest, upto):
    """Summed manifest entries per domain over landings 0..upto."""
    out = {d: {"rows": 0, "distinct": 0, "valid": 0, "rules": {}} for d in gen.DOMAINS}
    for landing in manifest["landings"][:upto + 1]:
        for f in landing:
            e = manifest["files"][f]
            o = out[e["domain"]]
            for k in ("rows", "distinct", "valid"):
                o[k] += e[k]
            for k, v in e["rules"].items():
                o["rules"][k] = o["rules"].get(k, 0) + v
    return out


def rule_counts(con, table, domain):
    """Silver row count, valid count and per-rule counts of `table`; each
    rule code is followed by `;` in `validation_errors`."""
    rules = gen.RULES[domain]
    sel = ", ".join(f"count(*) FILTER (WHERE validation_errors LIKE '%{r};%')" for r in rules)
    row = con.execute(f"SELECT count(*), count(*) FILTER (WHERE is_valid), {sel} "
                      f"FROM {table}").fetchone()
    return row[0], row[1], dict(zip(rules, row[2:]))


def diff_tables(con, a, b, cols):
    sel = ", ".join(cols)
    n1 = con.execute(f"SELECT count(*) FROM (SELECT {sel} FROM {a} EXCEPT ALL "
                     f"SELECT {sel} FROM {b})").fetchone()[0]
    n2 = con.execute(f"SELECT count(*) FROM (SELECT {sel} FROM {b} EXCEPT ALL "
                     f"SELECT {sel} FROM {a})").fetchone()[0]
    return n1, n2


def check_silver(con, root, manifest, upto):
    """Silver of one lake against the recompute and the manifest."""
    fails = []
    counts = manifest_counts(manifest, upto)
    for domain in gen.DOMAINS:
        files = glob.glob(f"{root}/silver/{domain}/**/*.parquet", recursive=True)
        if not files:
            fails.append(f"silver/{domain}: no parquet files")
            continue
        cols = list(BRONZE_TYPES[domain]) + ["validation_errors", "is_valid"]
        con.execute(f"""CREATE OR REPLACE TEMP VIEW act_{domain} AS
            SELECT * REPLACE (CAST(timestamp AS TIMESTAMP) AS timestamp)
            FROM read_parquet({lit_list(files)}, hive_partitioning = true)""")
        con.execute(f"CREATE OR REPLACE TEMP VIEW want_{domain} AS "
                    f"SELECT * FROM exp_{domain} WHERE landing <= {upto}")
        n1, n2 = diff_tables(con, f"act_{domain}", f"want_{domain}", cols)
        if n1 or n2:
            fails.append(f"silver/{domain}: {n1} rows not in the recompute, "
                         f"{n2} recomputed rows missing")
        bad_part = con.execute(
            f"SELECT count(*) FROM act_{domain} WHERE year <> year(timestamp) OR "
            f"month <> month(timestamp) OR day <> day(timestamp)").fetchone()[0]
        if bad_part:
            fails.append(f"silver/{domain}: {bad_part} rows in the wrong date partition")
        m = counts[domain]
        for label, table in (("silver", f"act_{domain}"), ("recompute", f"want_{domain}")):
            rows, valid, rules = rule_counts(con, table, domain)
            if rows != m["distinct"] or valid != m["valid"]:
                fails.append(f"{label}/{domain}: rows={rows} valid={valid}, manifest "
                             f"rows={m['distinct']} valid={m['valid']}")
            for rule in gen.RULES[domain]:
                if rules[rule] != m["rules"][rule]:
                    fails.append(f"{label}/{domain}: {rule} count {rules[rule]}, "
                                 f"manifest {m['rules'][rule]}")
        if domain == "sales":
            fixed = con.execute("SELECT count(*) FROM want_sales "
                                "WHERE total_amount <> bronze_total").fetchone()[0]
            if fixed != m["rules"]["total_fixed"]:
                fails.append(f"recompute/sales: {fixed} totals fixed, manifest "
                             f"{m['rules']['total_fixed']}")
    return fails


def gold_expected(con, table, upto):
    domain, sql = GOLD[table]
    con.execute(f"CREATE OR REPLACE TEMP VIEW v AS SELECT *, CAST(timestamp AS DATE) AS date "
                f"FROM exp_{domain} WHERE is_valid AND landing <= {upto}")
    con.execute(f"CREATE OR REPLACE TEMP TABLE gold_want AS {sql}")


def check_gold(con, root, snapshot_landings):
    """Every gold snapshot, oldest first, against the recompute over the
    landings it covers: `snapshot_landings[k]` is the last landing index
    snapshot k saw."""
    fails = []
    for table in GOLD:
        files = glob.glob(f"{root}/gold/{table}/*.parquet")
        if not files:
            fails.append(f"gold/{table}: no snapshot")
            continue
        con.execute(f"CREATE OR REPLACE TEMP VIEW g AS SELECT * FROM read_parquet({lit_list(files)})")
        stamps = [r[0] for r in con.execute(
            "SELECT DISTINCT generated_at FROM g ORDER BY generated_at").fetchall()]
        if len(stamps) != len(snapshot_landings):
            fails.append(f"gold/{table}: {len(stamps)} snapshots, expected "
                         f"{len(snapshot_landings)}")
            continue
        gold_expected(con, table, 0)
        want = arrow_types(con.execute("SELECT * FROM gold_want LIMIT 0").arrow().schema)
        want["generated_at"] = "string"
        bad = [f"gold/{table}: {os.path.basename(f)} schema {got} != {want}"
               for f in files for got in [arrow_types(pq.read_schema(f))] if got != want]
        if bad:
            fails += bad
            continue
        cols = [c for c in want if c != "generated_at"]
        for stamp, upto in zip(stamps, snapshot_landings):
            gold_expected(con, table, upto)
            con.execute(f"CREATE OR REPLACE TEMP VIEW gold_got AS SELECT * EXCLUDE (generated_at) "
                        f"FROM g WHERE generated_at = '{stamp}'")
            n1, n2 = diff_tables(con, "gold_got", "gold_want", cols)
            if n1 or n2:
                fails.append(f"gold/{table}@{stamp}: {n1} rows not in the recompute, "
                             f"{n2} recomputed rows missing")
    return fails


def arrow_types(schema):
    """Column name -> exact arrow type (string widths folded)."""
    return {f.name: "string" if pa.types.is_large_string(f.type) else str(f.type)
            for f in schema}


# ---- operator suite ----------------------------------------------------

def type_key(t):
    """Integer widths, timestamp units and string/binary widths compare
    equal; every other type difference (decimal vs int, float vs double)
    is a mismatch."""
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_timestamp(t):
        return f"timestamp[tz={t.tz}]"
    return str(t)


def norm(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def compare_tables(got, want):
    """Type-strict, exact compare after sorting columns by name and rows by
    every column; returns a list of differences (empty when equal)."""
    g = {f.name: f.type for f in got.schema}
    w = {f.name: f.type for f in want.schema}
    if sorted(g) != sorted(w):
        return [f"columns {sorted(g)} != {sorted(w)}"]
    bad = [f"type of {c}: {g[c]} != {w[c]}" for c in sorted(g) if type_key(g[c]) != type_key(w[c])]
    if bad:
        return bad
    if got.num_rows != want.num_rows:
        return [f"rows {got.num_rows} != {want.num_rows}"]
    cols = sorted(g)

    def rows(t):
        data = [[norm(v) for v in t.column(c).to_pylist()] for c in cols]
        return sorted(zip(*data), key=lambda r: [(x is None, repr(type(x)), x) for x in r])
    for i, (a, b) in enumerate(zip(rows(got), rows(want))):
        if a != b:
            return [f"row {i}: {a} != {b}"]
    return []


def oracle_path(cache_dir, data_dir, name, sql):
    h = hashlib.sha256(sql.encode())
    for f in sorted(glob.glob(f"{data_dir}/*.parquet")):
        h.update(os.path.basename(f).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return os.path.join(cache_dir, f"{name}-{h.hexdigest()[:16]}.parquet")


def oracle_answer(con, cache_dir, data_dir, name, sql, rebuild=False):
    path = oracle_path(cache_dir, data_dir, name, sql)
    if rebuild or not os.path.exists(path):
        for f in sorted(glob.glob(f"{data_dir}/*.parquet")):
            t = os.path.basename(f)[:-len(".parquet")]
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
        table = con.execute(sql).arrow()
        os.makedirs(cache_dir, exist_ok=True)
        pq.write_table(table, path + ".tmp")
        os.replace(path + ".tmp", path)
    return pq.read_table(path)


def check_suite(con, results_dir, data_dir, cache_dir, names, sqls):
    fails = []
    for name, sql in zip(names, sqls):
        if not sql:
            fails.append(f"{name}: no oracle SQL")
            continue
        got = pq.read_table(os.path.join(results_dir, name))
        diffs = compare_tables(got, oracle_answer(con, cache_dir, data_dir, name, sql))
        fails += [f"{name}: {d}" for d in diffs[:3]]
    return fails
