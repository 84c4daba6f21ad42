"""Seeded input generator for the perfbench medallion workload.

olist_bronze writes multi-file Olist bronze CSV with the FIXTURES.md
section B edge cases planted. The same seed gives byte-identical files;
row counts are fixed, so seeds change values, never sizes.

query_sweep reads the committed sf0.01 star-schema fixture
(perfbench/fixture/sf0.01) instead: it is the data the registry's oracle
SQL was written against.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv

OLIST_ORDERS = 10000
FILES_PER_TABLE = 4
STATES = ("SP RJ MG RS PR SC BA DF GO ES PE CE PA MT MA MS PB RN PI AL SE "
          "TO RO AM AC AP RR").split()
CITIES = [f"cidade {i}" for i in range(300)]
CATEGORIES = ("cama_mesa_banho beleza_saude esporte_lazer moveis_decoracao "
              "informatica_acessorios utilidades_domesticas relogios_presentes "
              "telefonia ferramentas_jardim automotivo brinquedos cool_stuff "
              "perfumaria bebes eletronicos papelaria fashion_bolsas_e_acessorios "
              "pet_shop moveis_escritorio consoles_games").split()
PAYMENT_TYPES = ["credit_card", "boleto", "voucher", "debit_card", "not_defined"]


def _hex_ids(rng, n):
    """Olist-style 32-hex-digit ids."""
    h = rng.bytes(16 * n).hex()
    return [h[i:i + 32] for i in range(0, 32 * n, 32)]


def _ts(rng, n, start="2017-01-01", span_days=600):
    base = np.datetime64(start, "s")
    t = base + rng.integers(0, span_days * 86400, n).astype("timedelta64[s]")
    return np.datetime_as_string(t, unit="s").astype(object), t


def _fmt(ts):
    return [s.replace("T", " ") for s in ts]


def olist_bronze(rng, out, n_orders=OLIST_ORDERS):
    """The eight Olist tables as bronze CSV, FILES_PER_TABLE files each,
    every column a string as in the real dumps. Planted edge cases
    (FIXTURES.md section B): order 0 has no payment, order 1 pays with
    two types, product 0 has a null category, 20 order_items rows appear
    in both of the table's first two files, and order 2's purchase
    timestamp is not a timestamp."""
    n_cust, n_prod = n_orders, max(10, n_orders // 10)
    n_sell, n_geo = max(10, n_orders // 100), max(10, n_orders // 2)
    cust_ids, order_ids = _hex_ids(rng, n_cust), _hex_ids(rng, n_orders)
    prod_ids, sell_ids = _hex_ids(rng, n_prod), _hex_ids(rng, n_sell)

    def pick(values, n):
        return np.array(values, dtype=object)[rng.integers(0, len(values), n)]

    def zips(n):
        return [f"{z:05d}" for z in rng.integers(1000, 99999, n)]

    tables = {}
    tables["customers"] = {
        "customer_id": cust_ids, "customer_unique_id": _hex_ids(rng, n_cust),
        "customer_zip_code_prefix": zips(n_cust),
        "customer_city": pick(CITIES, n_cust),
        "customer_state": pick(STATES, n_cust)}
    tables["sellers"] = {
        "seller_id": sell_ids, "seller_zip_code_prefix": zips(n_sell),
        "seller_city": pick(CITIES, n_sell), "seller_state": pick(STATES, n_sell)}
    tables["geolocation"] = {
        "geolocation_zip_code_prefix": zips(n_geo),
        "geolocation_lat": np.round(rng.uniform(-33, 5, n_geo), 6).astype(str),
        "geolocation_lng": np.round(rng.uniform(-73, -35, n_geo), 6).astype(str),
        "geolocation_city": pick(CITIES, n_geo),
        "geolocation_state": pick(STATES, n_geo)}
    category = pick(CATEGORIES, n_prod)
    category[0] = None
    tables["products"] = {
        "product_id": prod_ids, "product_category_name": category,
        **{c: rng.integers(lo, hi, n_prod).astype(str) for c, lo, hi in [
            ("product_name_lenght", 5, 76), ("product_description_lenght", 4, 3993),
            ("product_photos_qty", 1, 21), ("product_weight_g", 0, 40426),
            ("product_length_cm", 7, 106), ("product_height_cm", 2, 106),
            ("product_width_cm", 6, 119)]}}
    purchase, purchase_t = _ts(rng, n_orders)
    purchase = _fmt(purchase)
    purchase[2] = "not-a-timestamp"
    later = [_fmt(np.datetime_as_string(
        purchase_t + rng.integers(3600, 30 * 86400, n_orders).astype("timedelta64[s]"),
        unit="s").astype(object)) for _ in range(4)]
    tables["orders"] = {
        "order_id": order_ids, "customer_id": cust_ids,
        "order_status": pick(["delivered"] * 37 + ["shipped", "canceled", "invoiced"],
                             n_orders),
        "order_purchase_timestamp": purchase,
        "order_approved_at": later[0], "order_delivered_carrier_date": later[1],
        "order_delivered_customer_date": later[2],
        "order_estimated_delivery_date": later[3]}
    per_order = np.minimum(1 + rng.poisson(1.0, n_orders), 6)
    n_items = int(per_order.sum())
    item_order = np.repeat(np.arange(n_orders), per_order)
    item_seq = np.arange(n_items) - np.repeat(np.cumsum(per_order) - per_order, per_order) + 1
    tables["order_items"] = {
        "order_id": np.array(order_ids, dtype=object)[item_order],
        "order_item_id": item_seq.astype(str),
        "product_id": pick(prod_ids, n_items), "seller_id": pick(sell_ids, n_items),
        "shipping_limit_date": _fmt(_ts(rng, n_items)[0]),
        "price": np.round(rng.lognormal(4.3, 0.9, n_items), 2).astype(str),
        "freight_value": np.round(rng.gamma(2.0, 10.0, n_items), 2).astype(str)}
    # One payment per order, a second one of another type for 3% of the
    # orders (always order 1), none for order 0.
    second = rng.random(n_orders) < 0.03
    second[1], second[0] = True, False
    pay_orders = np.concatenate([np.arange(1, n_orders), np.flatnonzero(second)])
    first_type = rng.choice(len(PAYMENT_TYPES), n_orders, p=[0.73, 0.19, 0.055, 0.02, 0.005])
    first_type[3] = 4  # at least one not_defined
    types = np.concatenate([first_type[1:], (first_type[second] + 1) % len(PAYMENT_TYPES)])
    n_pay = len(pay_orders)
    tables["order_payments"] = {
        "order_id": np.array(order_ids, dtype=object)[pay_orders],
        "payment_sequential": np.concatenate(
            [np.ones(n_orders - 1, int), np.full(int(second.sum()), 2)]).astype(str),
        "payment_type": np.array(PAYMENT_TYPES, dtype=object)[types],
        "payment_installments": rng.integers(1, 11, n_pay).astype(str),
        "payment_value": np.round(rng.lognormal(4.6, 0.9, n_pay), 2).astype(str)}
    comment = pick([None] * 6 + ["recomendo", "otimo produto", "chegou antes do prazo",
                                 "nao recebi o produto"], n_orders)
    tables["order_reviews"] = {
        "review_id": _hex_ids(rng, n_orders), "order_id": order_ids,
        "review_score": rng.integers(1, 6, n_orders).astype(str),
        "review_comment_title": pick([None] * 8 + ["bom", "ruim"], n_orders),
        "review_comment_message": comment,
        "review_creation_date": _fmt(_ts(rng, n_orders)[0]),
        "review_answer_timestamp": _fmt(_ts(rng, n_orders)[0])}

    stats = {}
    opts = pacsv.WriteOptions(quoting_style="none")
    for name, cols in tables.items():
        t = pa.table({c: pa.array(list(v) if not isinstance(v, list) else v,
                                  type=pa.string()) for c, v in cols.items()})
        parts = np.array_split(np.arange(t.num_rows), FILES_PER_TABLE)
        chunks = [t.take(p) for p in parts]
        if name == "order_items":  # duplicate rows across two files
            chunks[1] = pa.concat_tables([chunks[1], chunks[0].slice(0, 20)])
        d = os.path.join(out, "olist", name)
        os.makedirs(d)
        rows = nbytes = 0
        for k, c in enumerate(chunks):
            path = os.path.join(d, f"part-{k}.csv")
            pacsv.write_csv(c, path, opts)
            rows += c.num_rows
            nbytes += os.path.getsize(path)
        stats[name] = {"rows": rows, "bytes": nbytes}
    return stats
