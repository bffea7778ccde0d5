"""Seeded input generator for the benchmark workloads.

Everything the program under test receives is made here from ``--seed``:
the TPC-H-shaped tables behind ``legend_serve``, the raw JSON batches and
corrections behind ``dq_ingest``, and the documents corpus behind
``curation``.  The same seed gives byte-identical files.  Every draw
comes from :class:`random.Random` (bulk draws from its byte stream), so
no library version can change the draw.  Each generator also returns
the properties the run records (request mix, violation counts per rule,
near-duplicate share).

Alongside every ad-hoc PURE lambda the generator writes the DuckDB SQL
that answers the same question.  That SQL is written by hand from the
template, never produced by the package's compiler, so it is an
independent twin for the correctness check.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(1992, 1, 1)
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM", "SMALL"]
PART_WORDS = ["red", "blue", "green", "small", "large", "steel", "brass",
              "ring", "widget", "bolt", "gear", "spring"]
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = [("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14)]


def _day(rng: random.Random, lo: int = 0, hi: int = 2405) -> dt.datetime:
    return EPOCH + dt.timedelta(days=rng.randint(lo, hi))


def _write_parquet(columns: dict[str, tuple[list, pa.DataType]], path: str) -> None:
    table = pa.table({k: pa.array(v, type=t) for k, (v, t) in columns.items()})
    pq.write_table(table, path)


# ---------------------------------------------------------------------------
# legend_serve: TPC-H-shaped tables and the request pool
# ---------------------------------------------------------------------------

def write_tpch(seed: int, out_dir: str, n_orders: int = 15000,
               n_parts: int = 2000) -> dict:
    """``orders``, ``lineitem`` and ``part`` at about sf0.01.  Every order
    has 1-7 lines numbered from 1, so ``(l_orderkey, l_linenumber)`` is a
    key, as in TPC-H."""
    rng = random.Random(f"tpch:{seed}")
    os.makedirs(out_dir, exist_ok=True)
    o = {k: [] for k in ("key", "cust", "status", "price", "date", "prio")}
    li = {k: [] for k in ("ok", "pk", "sk", "ln", "qty", "price", "disc",
                          "tax", "rf", "ls", "ship")}
    for key in range(n_orders):
        date = _day(rng)
        o["key"].append(key)
        o["cust"].append(rng.randrange(1500))
        o["status"].append(rng.choice("OFP"))
        o["price"].append(round(rng.uniform(900.0, 500000.0), 2))
        o["date"].append(date)
        o["prio"].append(rng.choice(PRIORITIES))
        for line in range(1, rng.randint(1, 7) + 1):
            qty = float(rng.randint(1, 50))
            li["ok"].append(key)
            li["pk"].append(rng.randrange(n_parts))
            li["sk"].append(rng.randrange(100))
            li["ln"].append(line)
            li["qty"].append(qty)
            li["price"].append(round(qty * rng.uniform(900.0, 2000.0), 2))
            li["disc"].append(rng.randint(0, 10) / 100)
            li["tax"].append(rng.randint(0, 8) / 100)
            li["rf"].append(rng.choice("ANR"))
            li["ls"].append(rng.choice("OF"))
            li["ship"].append(date + dt.timedelta(days=rng.randint(1, 120)))
    ts = pa.timestamp("us")
    _write_parquet({
        "o_orderkey": (o["key"], pa.int64()), "o_custkey": (o["cust"], pa.int64()),
        "o_orderstatus": (o["status"], pa.string()),
        "o_totalprice": (o["price"], pa.float64()),
        "o_orderdate": (o["date"], ts),
        "o_orderpriority": (o["prio"], pa.string())},
        os.path.join(out_dir, "orders.parquet"))
    _write_parquet({
        "l_orderkey": (li["ok"], pa.int64()), "l_partkey": (li["pk"], pa.int64()),
        "l_suppkey": (li["sk"], pa.int64()), "l_linenumber": (li["ln"], pa.int32()),
        "l_quantity": (li["qty"], pa.float64()),
        "l_extendedprice": (li["price"], pa.float64()),
        "l_discount": (li["disc"], pa.float64()), "l_tax": (li["tax"], pa.float64()),
        "l_returnflag": (li["rf"], pa.string()), "l_linestatus": (li["ls"], pa.string()),
        "l_shipdate": (li["ship"], ts)},
        os.path.join(out_dir, "lineitem.parquet"))
    p = {k: [] for k in ("key", "name", "brand", "type", "size", "price")}
    for key in range(n_parts):
        p["key"].append(key)
        p["name"].append(f"{rng.choice(PART_WORDS)} {rng.choice(PART_WORDS)}")
        p["brand"].append(f"Brand#{rng.randint(1, 25)}")
        p["type"].append(rng.choice(PART_TYPES))
        p["size"].append(rng.randint(1, 50))
        p["price"].append(round(900.0 + (key % 1000) / 10 + rng.randint(0, 100), 2))
    _write_parquet({
        "p_partkey": (p["key"], pa.int64()), "p_name": (p["name"], pa.string()),
        "p_brand": (p["brand"], pa.string()), "p_type": (p["type"], pa.string()),
        "p_size": (p["size"], pa.int32()), "p_retailprice": (p["price"], pa.float64())},
        os.path.join(out_dir, "part.parquet"))
    return {"orders": n_orders, "lineitem": len(li["ok"]), "part": n_parts}


# stored services and the demo oracle that answers each one
SERVICES = {
    "tpch::service::urgent_orders": "legend_service_urgent_orders",
    "tpch::service::orders_by_year": "legend_service_orders_by_year",
    "tpch::service::orders_97_low": "legend_service_orders_97_low",
    "tpch::service::part_stats": "legend_service_part_stats",
}

# the stored services written the way the generator writes its twins;
# the benchmark's tests check them against demo.ORACLES, which pins the
# twin conventions (1-based substring, integer year, ordering, limits)
SERVICE_TWINS = {
    "tpch::service::urgent_orders":
        'SELECT o_orderkey AS "OrderKey", o_totalprice AS "Total", '
        'CAST(year(o_orderdate) AS INT) AS "Year" FROM orders '
        "WHERE starts_with(o_orderpriority, '1') "
        'ORDER BY "Total" DESC, "OrderKey" LIMIT 20',
    "tpch::service::orders_by_year":
        'SELECT CAST(year(o_orderdate) AS INT) AS "Year", '
        'substring(o_orderpriority, 1, 1) AS "PriorityClass", '
        'max(o_totalprice) AS "MaxPrice", min(o_totalprice) AS "MinPrice", '
        'count(o_orderkey) AS "Orders" FROM orders GROUP BY 1, 2 '
        'ORDER BY "Year" DESC, "PriorityClass" LIMIT 12',
    "tpch::service::orders_97_low":
        'SELECT o_orderkey AS "OrderKey", o_totalprice AS "Total", '
        'substring(o_orderpriority, 1, 1) AS "Class" FROM orders '
        "WHERE CAST(year(o_orderdate) AS INT) = 1997 "
        "AND substring(o_orderpriority, 1, 1) = '5' "
        'ORDER BY "Total" DESC, "OrderKey" LIMIT 15',
    "tpch::service::part_stats":
        'SELECT p_brand AS "Brand", avg(p_size) AS "AvgSize", '
        'count(p_partkey) AS "Parts" FROM part GROUP BY 1 '
        'ORDER BY "AvgSize" DESC, "Brand" LIMIT 10',
}

ORDERS = "tpch::mapping::orders_delta"
LINEITEM = "tpch::mapping::lineitem_delta"
PART = "tpch::mapping::part_delta"


@dataclass(frozen=True)
class Request:
    """One distinct request: a stored service (``lambda_text`` empty) or
    an ad-hoc PURE lambda against ``mapping``.  ``twin_sql`` is the
    DuckDB query that must return the same rows (``None`` for a service:
    its twin is the demo oracle named in :data:`SERVICES`)."""
    name: str
    kind: str
    target: str
    lambda_text: str = ""
    twin_sql: str | None = None


def _lambda_templates(rng: random.Random) -> list[tuple[str, str, str, str]]:
    """(kind, mapping, PURE text, DuckDB twin) for each template."""
    price = rng.randrange(100000, 450000, 500)
    year = rng.randint(1992, 1998)
    status = rng.choice("OFP")
    take = rng.randint(5, 25)
    qty = rng.randint(10, 45)
    disc = rng.randint(1, 9) / 100
    pkey = rng.randrange(200, 2000, 50)
    size = rng.randint(5, 45)
    brand = rng.randint(1, 25)
    return [
        ("order_filter_project", ORDERS,
         "tpch::entity::order.all()"
         f"->filter(x|$x.totalPrice > {price} && $x.orderYear == {year})"
         "->project([x|$x.orderKey, x|$x.totalPrice, x|$x.priorityClass],"
         "['OrderKey','Total','Class'])"
         f"->sort([desc('Total'), 'OrderKey'])->take({take})",
         'SELECT o_orderkey AS "OrderKey", o_totalprice AS "Total", '
         'substring(o_orderpriority, 1, 1) AS "Class" FROM orders '
         f"WHERE o_totalprice > {price} AND CAST(year(o_orderdate) AS INT) = {year} "
         f'ORDER BY "Total" DESC, "OrderKey" LIMIT {take}'),
        ("order_group_derived", ORDERS,
         "tpch::entity::order.all()"
         f"->filter(x|$x.orderStatus == '{status}')"
         "->groupBy([x|$x.orderYear, x|$x.priorityClass],"
         "[agg(x|$x.totalPrice, y|$y->sum()), agg(x|$x.orderKey, y|$y->count())],"
         "['Year','Class','Revenue','Orders'])"
         f"->sort([desc('Year'), 'Class'])->take({take})",
         'SELECT CAST(year(o_orderdate) AS INT) AS "Year", '
         'substring(o_orderpriority, 1, 1) AS "Class", '
         'sum(o_totalprice) AS "Revenue", count(o_orderkey) AS "Orders" '
         f"FROM orders WHERE o_orderstatus = '{status}' GROUP BY 1, 2 "
         f'ORDER BY "Year" DESC, "Class" LIMIT {take}'),
        ("lineitem_group", LINEITEM,
         "tpch::entity::lineitem.all()"
         f"->filter(x|$x.quantity >= {qty})"
         "->groupBy([x|$x.returnFlag, x|$x.lineStatus],"
         "[agg(x|$x.quantity, y|$y->sum()), agg(x|$x.discount, y|$y->average()),"
         " agg(x|$x.orderKey, y|$y->count())],"
         "['Flag','Status','Qty','AvgDisc','Lines'])->sort(['Flag','Status'])",
         'SELECT l_returnflag AS "Flag", l_linestatus AS "Status", '
         'sum(l_quantity) AS "Qty", avg(l_discount) AS "AvgDisc", '
         f'count(l_orderkey) AS "Lines" FROM lineitem WHERE l_quantity >= {qty} '
         'GROUP BY 1, 2 ORDER BY "Flag", "Status"'),
        ("lineitem_filter_project", LINEITEM,
         "tpch::entity::lineitem.all()"
         f"->filter(x|$x.discount > {disc} && $x.partKey < {pkey})"
         "->project([x|$x.orderKey, x|$x.lineNumber, x|$x.extendedPrice],"
         "['OrderKey','Line','Price'])"
         f"->sort([desc('Price'), 'OrderKey', 'Line'])->take({take})",
         'SELECT l_orderkey AS "OrderKey", l_linenumber AS "Line", '
         'l_extendedprice AS "Price" FROM lineitem '
         f"WHERE l_discount > {disc} AND l_partkey < {pkey} "
         f'ORDER BY "Price" DESC, "OrderKey", "Line" LIMIT {take}'),
        ("part_group", PART,
         "tpch::entity::part.all()"
         f"->filter(x|$x.size > {size})"
         "->groupBy([x|$x.type],"
         "[agg(x|$x.retailPrice, y|$y->max()), agg(x|$x.partKey, y|$y->count())],"
         "['Type','MaxPrice','Parts'])->sort(['Type'])",
         'SELECT p_type AS "Type", max(p_retailprice) AS "MaxPrice", '
         f'count(p_partkey) AS "Parts" FROM part WHERE p_size > {size} '
         'GROUP BY 1 ORDER BY "Type"'),
        ("part_prefix_project", PART,
         "tpch::entity::part.all()"
         f"->filter(x|$x.brand->startsWith('Brand#{brand}'))"
         "->project([x|$x.partKey, x|$x.name, x|$x.retailPrice],"
         "['Key','Name','Price'])"
         f"->sort([desc('Price'), 'Key'])->take({take})",
         'SELECT p_partkey AS "Key", p_name AS "Name", p_retailprice AS "Price" '
         f"FROM part WHERE starts_with(p_brand, 'Brand#{brand}') "
         f'ORDER BY "Price" DESC, "Key" LIMIT {take}'),
    ]


def serve_requests(seed: int) -> list[Request]:
    """The distinct request pool: every stored service plus one seeded
    parameter draw of each lambda template."""
    rng = random.Random(f"serve:{seed}")
    pool = [Request(f"service:{path.rsplit('::', 1)[1]}", "service", path)
            for path in SERVICES]
    for kind, mapping, text, twin in _lambda_templates(rng):
        pool.append(Request(f"lambda:{kind}", kind, mapping, text, twin))
    return pool


def request_sequence(seed: int, pool: list[Request], n: int) -> list[int]:
    """Indices into *pool*: consecutive blocks that each hold every
    distinct request once, in a seeded order.  Every run therefore
    sends each stored service and each lambda template equally often;
    only the order and the lambdas' parameters vary."""
    rng = random.Random(f"mix:{seed}")
    out: list[int] = []
    while len(out) < n:
        block = list(range(len(pool)))
        rng.shuffle(block)
        out.extend(block)
    return out[:n]


# ---------------------------------------------------------------------------
# dq_ingest: raw JSON batches with injected violations, then corrections
# ---------------------------------------------------------------------------

# rule name (as the model compiles it) -> how often the generator breaks it
INJECTED_RULES = {
    "[discount] should be positive": 0.02,   # discount = 0.0
    "[tax] below cap": 0.03,                 # tax = 0.06
    "[returnFlag] not allowed value": 0.01,  # returnFlag = 'X'
    "[quantity] is mandatory": 0.005,        # quantity = null
}
FIX_SHARE = 0.02    # corrections that replace a stored row
NEW_SHARE = 0.002   # corrections with a new key
SHIP_DAYS = [(EPOCH + dt.timedelta(days=d)).strftime("%Y-%m-%dT%H:%M:%S")
             for d in range(2526)]


def _uniform(rng: random.Random, n: int) -> np.ndarray:
    """*n* floats in [0, 1), drawn from *rng*'s byte stream."""
    return np.frombuffer(rng.randbytes(4 * n), dtype="<u4") / 2**32


def _ints(rng: random.Random, n: int, lo: int, hi: int) -> np.ndarray:
    """*n* integers in [lo, hi], drawn from *rng*'s byte stream."""
    u = np.frombuffer(rng.randbytes(4 * n), dtype="<u4")
    return lo + (u % (hi - lo + 1)).astype(np.int64)


def _lines(rng: random.Random, keys: np.ndarray) -> dict[str, np.ndarray]:
    """Valid lineitem rows in the entity's camelCase shape; row *j* gets
    key ``(keys[j] // 4, keys[j] % 4 + 1)``."""
    n = len(keys)
    qty = _ints(rng, n, 1, 50).astype(np.float64)
    return {
        "orderKey": keys // 4, "partKey": _ints(rng, n, 0, 19999),
        "suppKey": _ints(rng, n, 0, 999),
        "lineNumber": (keys % 4 + 1).astype(np.int32), "quantity": qty,
        "extendedPrice": np.round(qty * (900.0 + 1100.0 * _uniform(rng, n)), 2),
        "discount": _ints(rng, n, 1, 10) / 100, "tax": _ints(rng, n, 0, 4) / 100,
        "returnFlag": np.array(list("ANR"))[_ints(rng, n, 0, 2)],
        "lineStatus": np.array(list("OF"))[_ints(rng, n, 0, 1)],
        "shipDate": np.array(SHIP_DAYS)[_ints(rng, n, 0, len(SHIP_DAYS) - 1)],
    }


def _break(rng: random.Random, rows: dict[str, np.ndarray]) -> tuple[dict, np.ndarray]:
    """Break each rule in a seeded share of *rows*, in place.  Returns the
    count per rule and the mask of rows whose quantity is null."""
    n = len(rows["orderKey"])
    counts, null_qty = {}, np.zeros(n, dtype=bool)
    for rule, rate in INJECTED_RULES.items():
        hit = _uniform(rng, n) < rate
        counts[rule] = int(hit.sum())
        if rule.startswith("[discount]"):
            rows["discount"][hit] = 0.0
        elif rule.startswith("[tax]"):
            rows["tax"][hit] = 0.06
        elif rule.startswith("[returnFlag]"):
            rows["returnFlag"][hit] = "X"
        else:
            null_qty = hit
    return counts, null_qty


def _table(rows: dict[str, np.ndarray], null_qty: np.ndarray | None = None) -> pa.Table:
    cols = {k: pa.array(v) for k, v in rows.items()}
    if null_qty is not None:
        cols["quantity"] = pa.array(rows["quantity"], mask=null_qty)
    return pa.table(cols)


def write_ingest(seed: int, out_dir: str, n_batches: int = 16,
                 batch_rows: int = 37500) -> dict:
    """``batch_NNN.json`` (newline-delimited lineitem rows in the entity's
    camelCase shape) and ``corrections.json``.  Keys ``0 .. rows-1`` are
    dealt to the batches in a seeded order, so ``(orderKey, lineNumber)``
    is unique across every batch.  A correction replaces a stored row
    with valid values and a quantity outside the batches' 1-50 range, so
    every corrected row changes."""
    rng = random.Random(f"ingest:{seed}")
    os.makedirs(out_dir, exist_ok=True)
    total = n_batches * batch_rows
    order = np.argsort(_uniform(rng, total), kind="stable")  # no key order
    rows = _lines(rng, order)
    counts, null_qty = _break(rng, rows)
    table = _table(rows, null_qty)
    n_fix, n_new = int(total * FIX_SHARE), int(total * NEW_SHARE)
    keys = np.array(sorted(rng.sample(range(total), n_fix))
                    + list(range(total, total + n_new)), dtype=np.int64)
    fixes = _lines(rng, keys)
    fixes["quantity"] = 51.0 + np.arange(len(keys)) % 50
    con = duckdb.connect()
    con.execute("SET threads TO 1")  # one writer keeps the row order
    paths = []
    for b in range(n_batches):
        paths.append(os.path.join(out_dir, f"batch_{b:03d}.json"))
        _write_ndjson(con, table.slice(b * batch_rows, batch_rows), paths[-1])
    corrections = os.path.join(out_dir, "corrections.json")
    _write_ndjson(con, _table(fixes), corrections)
    con.close()
    return {
        "batches": paths, "corrections": corrections,
        "raw_bytes": sum(os.path.getsize(p) for p in paths + [corrections]),
        "n_batches": n_batches, "batch_rows": batch_rows, "rows": total,
        "updates": n_fix, "inserts": n_new,
        "injected": counts,
        "violation_rate": {r: round(c / total, 6) for r, c in counts.items()},
    }


def _write_ndjson(con, table: pa.Table, path: str) -> None:
    con.register("rows", table)
    con.execute(f"COPY rows TO '{path}' (FORMAT JSON)")
    con.unregister("rows")


# ---------------------------------------------------------------------------
# curation: documents corpus with planted near-duplicates
# ---------------------------------------------------------------------------

NEAR_DUP_SHARE = 0.15  # documents that are edited copies of an earlier one
EXACT_SHARE = 0.02     # documents that are exact copies


def write_corpus(seed: int, out_dir: str, n_docs: int = 250) -> dict:
    """``documents.parquet`` in the fixture schema (doc_id, text, lang,
    source, n_chars).  A seeded share of documents are near-duplicate
    copies of an earlier original (a few words substituted, the text
    cut or extended at the end); a smaller share are exact copies.  The
    planted ``(copy, original)`` pairs are returned for the recall count."""
    rng = random.Random(f"corpus:{seed}")
    os.makedirs(out_dir, exist_ok=True)
    texts: list[list[str]] = []
    planted: list[tuple[int, int]] = []
    n_exact = 0
    for doc in range(n_docs):
        roll = rng.random()
        if doc >= 10 and roll < NEAR_DUP_SHARE + EXACT_SHARE:
            src = rng.randrange(doc)
            words = list(texts[src])
            if roll >= NEAR_DUP_SHARE:
                n_exact += 1
            else:
                for _ in range(max(1, len(words) // 25)):
                    words[rng.randrange(len(words))] = rng.choice(VOCAB)
                cut = rng.randint(-3, 3)
                words = words[:len(words) + cut] if cut < 0 else \
                    words + [rng.choice(VOCAB) for _ in range(cut)]
            planted.append((doc, src))
        else:
            words = [rng.choice(VOCAB) for _ in range(rng.randint(8, 90))]
        texts.append(words)
    langs, weights = zip(*LANGS)
    docs = [" ".join(w) for w in texts]
    _write_parquet({
        "doc_id": (list(range(n_docs)), pa.int64()),
        "text": (docs, pa.string()),
        "lang": ([rng.choices(langs, weights)[0] for _ in docs], pa.string()),
        "source": ([f"src{rng.randrange(20)}" for _ in docs], pa.string()),
        "n_chars": ([len(t) for t in docs], pa.int64())},
        os.path.join(out_dir, "documents.parquet"))
    return {"docs": n_docs, "near_dup_copies": len(planted) - n_exact,
            "exact_copies": n_exact,
            "near_dup_share": round(len(planted) / n_docs, 6),
            "planted_pairs": planted}
