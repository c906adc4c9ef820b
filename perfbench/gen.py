"""Seeded input generators for the three workloads.

Every generator takes a seed and a directory and writes only there; the
same seed always gives byte-identical inputs. Row counts never depend on
the seed, only values do, so two seeds give the same amount of work.

- `tables`: the ten tables of the TPC-H-like star schema plus the
  events/documents/embeddings tables, with the column names, types and
  value domains of the repository's sf datasets (see TESTDATA.md), at
  scale `sf`.
- `incr_inputs`: the base source files plus pre-generated micro-batches
  for the incremental-warehouse workload, and the project that builds
  on them.
- `dag_project`: the chained-view DAG project.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "green"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)


def _write(path, cols, schema=None):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.table(cols, schema=schema)
    pq.write_table(table, path)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


# ------------------------------------------------------------------ tables

def _customers(rng, keys):
    n = len(keys)
    return {
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n)),
    }


def _orders(rng, keys, n_cust, max_day):
    n = len(keys)
    return {
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n)),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, max_day, n) * DAY_US),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n)),
    }


def _lineitems(rng, orderkeys, n_part, n_supp):
    """Four lines per order on average (1..7), numbered per order."""
    per = rng.integers(1, 8, len(orderkeys))
    okeys = np.repeat(np.asarray(orderkeys, dtype=np.int64), per)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per]) if len(per) else np.array([], np.int64)
    n = len(okeys)
    return {
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": _ts(EPOCH_1995 + 1 * DAY_US + rng.integers(0, 2498, n) * DAY_US),
    }


def tables(out_dir, seed, sf):
    """Writes `<out_dir>/<table>.parquet` for all ten tables."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_emb = int(20_000 * sf)
    _write(f"{out_dir}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    _write(f"{out_dir}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(f"{out_dir}/customer.parquet", _customers(rng, np.arange(n_cust)))
    _write(f"{out_dir}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    pk = np.arange(n_part)
    _write(f"{out_dir}/part.parquet", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 2))})
    _write(f"{out_dir}/orders.parquet", _orders(rng, np.arange(n_ord), n_cust, 2404))
    _write(f"{out_dir}/lineitem.parquet",
           _lineitems(rng, rng.permutation(n_ord), n_part, n_supp))
    ts = np.sort(np.datetime64("2024-01-01", "us").astype(np.int64)
                 + rng.integers(0, 30 * DAY_US, n_ev))
    _write(f"{out_dir}/events.parquet", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    texts = []
    for i in range(n_doc):
        words = list(rng.choice(WORDS, int(rng.integers(10, 101))))
        if i % 20 == 19:
            words.append("dup")
        texts.append(" ".join(words))
    for i in range(0, min(8, n_doc // 2)):  # a few exact duplicate texts
        texts[n_doc - 1 - i] = texts[i]
    _write(f"{out_dir}/documents.parquet", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_doc, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(f"{out_dir}/embeddings.parquet", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})


# ------------------------------------------------------ incremental batches

INCR_BASE_ORDERS = 10_000
INCR_CUSTOMERS = 1_000
INCR_NEW_ORDERS = 200        # per batch
INCR_CHANGED_ORDERS = 100    # per batch: price updates of recent orders
INCR_CHANGED_CUSTOMERS = 20  # per batch: attribute changes
INCR_RECENT_DAYS = 60        # updates hit orders placed in the last 60 days
INCR_MAX_BATCHES = 16
INCR_N_PART = 2_000
INCR_N_SUPP = 100
INCR_BASE_DAYS = 730         # base orders span 1995-01 .. 1996-12
INCR_DAYS_PER_BATCH = 14     # each batch's new orders fall after the base


def _with_batch(cols, batch):
    n = len(next(iter(cols.values())))
    cols = dict(cols)
    cols["_batch"] = pa.array(np.full(n, batch), pa.int32())
    return cols


def _order_cols(cols):
    keep = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"]
    return {k: cols[k] for k in keep}


def _line_cols(cols):
    keep = ["l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
            "l_extendedprice", "l_discount", "l_shipdate"]
    return {k: cols[k] for k in keep}


def _cust_cols(cols):
    keep = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    return {k: cols[k] for k in keep}


def incr_inputs(out_dir, seed):
    """Writes the base source files to `<out_dir>/landing/b000/` and each
    micro-batch k to `<out_dir>/landing/b<k>/`; the harness moves a
    batch's files into `<out_dir>/src/<table>/` to land it. Also writes
    `<out_dir>/batches.json`, the make-up of every batch."""
    rng = np.random.default_rng(seed)
    land = f"{out_dir}/landing"
    cust = _customers(rng, np.arange(INCR_CUSTOMERS))
    orders = _orders(rng, np.arange(INCR_BASE_ORDERS), INCR_CUSTOMERS, INCR_BASE_DAYS)
    lines = _lineitems(rng, np.arange(INCR_BASE_ORDERS), INCR_N_PART, INCR_N_SUPP)
    _write(f"{land}/b000/customer.parquet", _with_batch(_cust_cols(cust), 0))
    _write(f"{land}/b000/orders.parquet", _with_batch(_order_cols(orders), 0))
    _write(f"{land}/b000/lineitem.parquet", _with_batch(_line_cols(lines), 0))
    seg = np.asarray(cust["c_mktsegment"].to_pylist())
    bal = np.asarray(cust["c_acctbal"].to_pylist())
    order_month = {}
    base_days = (np.asarray(orders["o_orderdate"].cast(pa.int64())) - EPOCH_1995) // DAY_US
    next_key = INCR_BASE_ORDERS
    n_orders = INCR_BASE_ORDERS
    makeup = [{"batch": 0, "orders": INCR_BASE_ORDERS, "lineitems": len(lines["l_orderkey"]),
               "customers": INCR_CUSTOMERS}]
    cur_price = dict(zip(range(INCR_BASE_ORDERS), orders["o_totalprice"].to_pylist()))
    cur_status = dict(zip(range(INCR_BASE_ORDERS), orders["o_orderstatus"].to_pylist()))
    cur_cust = dict(zip(range(INCR_BASE_ORDERS), orders["o_custkey"].to_pylist()))
    cur_day = dict(zip(range(INCR_BASE_ORDERS), base_days.tolist()))
    for b in range(1, INCR_MAX_BATCHES + 1):
        first_day = INCR_BASE_DAYS + (b - 1) * INCR_DAYS_PER_BATCH
        new_keys = np.arange(next_key, next_key + INCR_NEW_ORDERS)
        next_key += INCR_NEW_ORDERS
        new = _orders(rng, new_keys, INCR_CUSTOMERS, 1)
        days = first_day + rng.integers(0, INCR_DAYS_PER_BATCH, INCR_NEW_ORDERS)
        new["o_orderdate"] = _ts(EPOCH_1995 + days * DAY_US)
        recent = np.array(sorted(k for k, d in cur_day.items()
                                 if d >= first_day - INCR_RECENT_DAYS), np.int64)
        changed = np.sort(rng.choice(recent, INCR_CHANGED_ORDERS, replace=False))
        ch_price = _money(rng, 1000.0, 500000.0, INCR_CHANGED_ORDERS)
        upd = {
            "o_orderkey": pa.array(changed, pa.int64()),
            "o_custkey": pa.array([cur_cust[int(k)] for k in changed], pa.int64()),
            "o_orderstatus": pa.array([cur_status[int(k)] for k in changed]),
            "o_totalprice": pa.array(ch_price),
            "o_orderdate": _ts(EPOCH_1995 + np.array([cur_day[int(k)] for k in changed],
                                                     np.int64) * DAY_US),
        }
        batch_orders = {k: pa.concat_arrays([_order_cols(new)[k], upd[k]])
                        for k in upd}
        for k, p, s, c, d in zip(new_keys.tolist(), new["o_totalprice"].to_pylist(),
                                 new["o_orderstatus"].to_pylist(),
                                 new["o_custkey"].to_pylist(), days.tolist()):
            cur_price[k], cur_status[k], cur_cust[k], cur_day[k] = p, s, c, d
        for k, p in zip(changed.tolist(), ch_price.tolist()):
            cur_price[k] = p
        n_orders += INCR_NEW_ORDERS
        new_lines = _lineitems(rng, new_keys, INCR_N_PART, INCR_N_SUPP)
        ch_cust = np.sort(rng.choice(INCR_CUSTOMERS, INCR_CHANGED_CUSTOMERS, replace=False))
        c_rows = _cust_cols(_customers(rng, ch_cust))
        # a change always changes a checked column: new segment differs
        new_seg = [SEGMENTS[(SEGMENTS.index(seg[k]) + 1 + int(rng.integers(0, 4))) % 5]
                   for k in ch_cust]
        new_bal = _money(rng, -999.99, 9999.99, len(ch_cust))
        c_rows["c_name"] = pa.array([f"Customer#{k:09d}" for k in ch_cust])
        c_rows["c_mktsegment"] = pa.array(new_seg)
        c_rows["c_acctbal"] = pa.array(new_bal)
        for k, s_, v in zip(ch_cust.tolist(), new_seg, new_bal.tolist()):
            seg[k], bal[k] = s_, v
        _write(f"{land}/b{b:03d}/customer.parquet", _with_batch(c_rows, b))
        _write(f"{land}/b{b:03d}/orders.parquet", _with_batch(batch_orders, b))
        _write(f"{land}/b{b:03d}/lineitem.parquet", _with_batch(_line_cols(new_lines), b))
        months = sorted({str(np.datetime64(int(EPOCH_1995 + d * DAY_US), "us"))[:7]
                         for d in list(days) + [cur_day[int(k)] for k in changed]})
        makeup.append({"batch": b, "new_orders": INCR_NEW_ORDERS,
                       "new_lineitems": len(new_lines["l_orderkey"]),
                       "changed_orders": INCR_CHANGED_ORDERS,
                       "changed_customers": INCR_CHANGED_CUSTOMERS,
                       "touched_months": len(months)})
    with open(f"{out_dir}/batches.json", "w") as f:
        json.dump(makeup, f)
    nation = "n_nationkey,n_name,n_regionkey\n" + "".join(
        f"{i},NATION_{i},{i % 5}\n" for i in range(25))
    _incr_project(f"{out_dir}/project", f"{out_dir}/src", nation)


def _incr_project(proj, src, nation_csv):
    files = {
        "dbt_project.yml": "name: incr\n",
        "seeds/nation.csv": nation_csv,
        "models/sources.yml": f"""sources:
  - name: raw
    tables:
      - name: orders
        path: {src}/orders
      - name: lineitem
        path: {src}/lineitem
      - name: customer
        path: {src}/customer
""",
        "models/stg_orders.sql": """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, _batch
FROM (SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY _batch DESC) AS rn
      FROM {{ source('raw', 'orders') }}) WHERE rn = 1""",
        "models/stg_customer.sql": """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, _batch
FROM (SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY _batch DESC) AS rn
      FROM {{ source('raw', 'customer') }}) WHERE rn = 1""",
        "models/stg_lineitem.sql": """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
       l_extendedprice, l_discount, l_shipdate, _batch
FROM {{ source('raw', 'lineitem') }}""",
        "models/fct_orders.sql": """{{ config(materialized='incremental', incremental_strategy='merge',
          unique_key='o_orderkey', partition_by=['order_month']) }}
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
       date_format(o_orderdate, 'yyyy-MM') AS order_month, _batch
FROM {{ ref('stg_orders') }}
{% if is_incremental() %}
WHERE _batch > (SELECT max(_batch) FROM {{ this }})
{% endif %}""",
        "models/fct_lineitem.sql": """{{ config(materialized='incremental', incremental_strategy='append') }}
SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice,
       l_discount, l_shipdate, _batch
FROM {{ ref('stg_lineitem') }}
{% if is_incremental() %}
WHERE _batch > (SELECT max(_batch) FROM {{ this }})
{% endif %}""",
        "models/mart_revenue.sql": """{{ config(materialized='table') }}
SELECT n.n_name AS nation, o.order_month,
       count(DISTINCT o.o_orderkey) AS n_orders,
       count(*) AS n_lines,
       sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
           * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS revenue,
       sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS quantity
FROM {{ ref('fct_lineitem') }} l
JOIN {{ ref('fct_orders') }} o ON l.l_orderkey = o.o_orderkey
JOIN {{ ref('stg_customer') }} c ON o.o_custkey = c.c_custkey
JOIN {{ ref('nation') }} n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name, o.order_month""",
        "snapshots/snap_customer.sql": """{% snapshot snap_customer %}
{{ config(strategy='check', unique_key='c_custkey', check_cols=['c_acctbal', 'c_mktsegment']) }}
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM {{ ref('stg_customer') }}
{% endsnapshot %}""",
        "models/schema.yml": """models:
  - name: fct_orders
    columns:
      - name: o_orderkey
        tests: [unique, not_null]
      - name: o_orderstatus
        tests:
          - accepted_values:
              values: ['F', 'O', 'P']
  - name: fct_lineitem
    columns:
      - name: l_orderkey
        tests: [not_null]
  - name: mart_revenue
    columns:
      - name: nation
        tests: [not_null]
""",
    }
    for rel, body in files.items():
        path = f"{proj}/{rel}"
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(body)


# ------------------------------------------------------------ DAG project

def dag_project(proj, n_views, n_tables):
    """The reference's `01_2000_simple_models` shape, scaled: chains of
    ten views (every tenth view is a chain root selecting its own id),
    `n_tables` one-row tables and one not_null test per table. Returns
    {chain_end_view: root_id}."""
    os.makedirs(f"{proj}/models", exist_ok=True)
    with open(f"{proj}/dbt_project.yml", "w") as f:
        f.write("name: dagbench\n")
    ends = {}
    for i in range(n_views):
        body = (f"SELECT {i} AS id, 'x' AS payload" if i % 10 == 0
                else f"SELECT * FROM {{{{ ref('v_{i - 1}') }}}}")
        with open(f"{proj}/models/v_{i}.sql", "w") as f:
            f.write(body)
        if i % 10 == 9 or i == n_views - 1:
            ends[f"v_{i}"] = i - i % 10
    for i in range(n_tables):
        with open(f"{proj}/models/t_{i}.sql", "w") as f:
            f.write(f"{{{{ config(materialized='table') }}}}\nSELECT {i} AS id, 'y' AS payload")
    yml = "models:\n" + "".join(
        f"  - name: t_{i}\n    columns:\n      - name: id\n        tests: [not_null]\n"
        for i in range(n_tables))
    with open(f"{proj}/models/schema.yml", "w") as f:
        f.write(yml)
    return ends
