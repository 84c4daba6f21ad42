"""Output checks, run with DuckDB outside the timed part of a run.

Each check returns a list of (op_name, message) failures; the op names
are the span names of the operations whose output failed.
"""
import threading
from concurrent.futures import ThreadPoolExecutor

import duckdb

STAR_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings"]


def _canonical(con, table, sql):
    """Materializes `sql` as `table` with columns in name order and every
    float rounded to 9 places (lists of floats element-wise): the
    canonical form tools/check_oracle.py compares."""
    cols = sorted(con.execute(f"DESCRIBE SELECT * FROM ({sql})").fetchall())
    exprs = []
    for name, typ, *_ in cols:
        q = '"' + name.replace('"', '""') + '"'
        if typ in ("FLOAT", "DOUBLE") or typ.startswith("DECIMAL"):
            q = f"round({q}::DOUBLE, 9) AS {q}"
        elif typ in ("FLOAT[]", "DOUBLE[]"):
            q = f"list_transform({q}, x -> round(x::DOUBLE, 9)) AS {q}"
        exprs.append(q)
    con.execute(f"CREATE OR REPLACE TEMP TABLE {table} AS "
                f"SELECT {', '.join(exprs)} FROM ({sql})")
    return [c[0] for c in cols]


def oracle(con, name, sql, out_dir):
    """None when the Spark parquet output under `out_dir` holds the same
    rows (as a multiset) as the oracle SQL's result, else a message."""
    try:
        got = _canonical(con, "got", f"SELECT * FROM read_parquet('{out_dir}/*.parquet')")
        exp = _canonical(con, "exp", sql)
        if got != exp:
            return f"{name}: columns spark={got} oracle={exp}"
        n_got, n_exp, extra, missing = con.execute(
            "SELECT (SELECT count(*) FROM got), (SELECT count(*) FROM exp), "
            "(SELECT count(*) FROM (FROM got EXCEPT ALL FROM exp)), "
            "(SELECT count(*) FROM (FROM exp EXCEPT ALL FROM got))").fetchone()
    except Exception as e:  # noqa: BLE001 - any load or SQL error fails the op
        return f"{name}: {e}"
    if extra or missing:
        return (f"{name}: rows spark={n_got} oracle={n_exp}, {extra} unexpected, "
                f"{missing} missing")
    return None


def star_views(con, data_dir):
    for t in STAR_TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS "
                    f"SELECT * FROM '{data_dir}/{t}.parquet'")


def query_sweep(rec, data_dir, threads=4):
    """Oracle check of the queries the run wrote out for checking,
    `threads` at a time, each thread with its own single-threaded DuckDB
    connection. A sampled query whose rerun failed fails its check."""
    out = rec["passes"][-1]["out"]
    names = {s["attrs"]["query"]: s["name"] for s in rec["spans"]
             if s["attrs"].get("query")}
    fails = [(names[q], "rerun for the check failed")
             for q in rec["check_sample"] if q not in rec["checked"]]
    todo = sorted(q for q in rec["checked"] if q in rec["oracle"])
    local = threading.local()

    def check_one(q):
        if not hasattr(local, "con"):
            local.con = duckdb.connect(config={"threads": 1})
            star_views(local.con, data_dir)
        return oracle(local.con, q, rec["oracle"][q], f"{out}/{q}")

    with ThreadPoolExecutor(threads) as pool:
        return fails + [(names[q], m) for q, m in zip(todo, pool.map(check_one, todo)) if m]


MONEY = ["VALOR_VENDA", "FRETE", "VALOR_BOLETO", "VALOR_CREDITO",
         "VALOR_DEBITO", "VALOR_VOUCHER", "VALOR_NAO_DEFINIDO"]
PAY = {"VALOR_BOLETO": "boleto", "VALOR_CREDITO": "credit_card",
       "VALOR_DEBITO": "debit_card", "VALOR_VOUCHER": "voucher",
       "VALOR_NAO_DEFINIDO": "not_defined"}


def _vendas_sql(bronze):
    """The reference's vendas dataflow in DuckDB over the bronze CSV:
    union of each table's files, try-casts, payments pivot-sum, four left
    joins at item grain, fillna(0), upper + '_' -> ' ' on the category."""
    def csv(t):
        return f"read_csv('{bronze}/olist/{t}/*.csv', header=true, all_varchar=true)"
    pivot = ",\n".join(
        f"sum(CASE WHEN payment_type = '{v}' THEN TRY_CAST(payment_value AS DOUBLE) END) AS {k}"
        for k, v in PAY.items())
    fill = ", ".join(f"coalesce(pay.{k}, 0) AS {k}" for k in PAY)
    return f"""
      WITH items AS (SELECT order_id, product_id,
                            TRY_CAST(price AS DOUBLE) AS price,
                            TRY_CAST(freight_value AS DOUBLE) AS freight_value
                     FROM {csv('order_items')}),
           orders AS (SELECT order_id, customer_id,
                             TRY_CAST(order_purchase_timestamp AS TIMESTAMP) AS ts
                      FROM {csv('orders')}),
           products AS (SELECT product_id, product_category_name FROM {csv('products')}),
           customers AS (SELECT customer_id, customer_state FROM {csv('customers')}),
           pay AS (SELECT order_id, {pivot} FROM {csv('order_payments')} GROUP BY order_id)
      SELECT replace(upper(p.product_category_name), '_', ' ') AS CATEGORIA_PRODUTO,
             c.customer_state AS ESTADO_CLIENTE, CAST(o.ts AS DATE) AS DATA_VENDA,
             coalesce(i.price, 0) AS VALOR_VENDA,
             coalesce(i.freight_value, 0) AS FRETE, {fill}
      FROM items i
      LEFT JOIN orders o ON o.order_id = i.order_id
      LEFT JOIN products p ON p.product_id = i.product_id
      LEFT JOIN customers c ON c.customer_id = o.customer_id
      LEFT JOIN pay ON pay.order_id = i.order_id"""


def _checksums(con, relation):
    sums = ", ".join(f"coalesce(sum({m}), 0)" for m in MONEY)
    rows = con.execute(
        f"SELECT CATEGORIA_PRODUTO, ESTADO_CLIENTE, count(*), count(DATA_VENDA), "
        f"{sums} FROM ({relation}) GROUP BY ALL").fetchall()
    return {(r[0], r[1]): r[2:] for r in rows}


def _close(a, b):
    return abs(a - b) <= 1e-6 + 1e-9 * max(abs(a), abs(b))


def medallion(rec, bronze, bronze_rows):
    con = duckdb.connect()
    last = rec["passes"][-1]
    fails = []
    for table, rows in bronze_rows.items():
        got = con.execute(f"SELECT count(*) FROM '{last['silver']}/olist/{table}/*.parquet'"
                          ).fetchone()[0]
        if got != rows:
            fails.append((f"sources.ingest.{table}",
                          f"silver {table} has {got} rows, bronze {rows}"))
    for p in rec["passes"]:
        if not (p["gold_rows"] == p["jdbc_rows"] == bronze_rows["order_items"]):
            fails.append(("sources.gold", f"pass {p['index']}: gold {p['gold_rows']} "
                          f"jdbc {p['jdbc_rows']} items {bronze_rows['order_items']}"))
    got = _checksums(con, f"SELECT * FROM '{last['gold']}/**/*.parquet'")
    exp = _checksums(con, _vendas_sql(bronze))
    bad = [k for k in set(got) | set(exp)
           if k not in got or k not in exp
           or got[k][:2] != exp[k][:2]
           or not all(_close(x, y) for x, y in zip(got[k][2:], exp[k][2:]))]
    if bad:
        fails.append(("sources.gold", f"{len(bad)} of {len(exp)} category x state "
                      f"checksums differ from DuckDB, e.g. {bad[0]}: "
                      f"{got.get(bad[0])} vs {exp.get(bad[0])}"))
    return fails
