"""Output checks made by run.py, apart from graft: DuckDB over the
files graft wrote and over the generated inputs. Each check returns a
list of problems (empty = correct)."""
import json
import os
import re
import sys

import duckdb
import pandas as pd


def _canon():
    """The canonical form of tools/check_oracle.py."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "tools"))
    try:
        from check_oracle import TABLES, canon
    finally:
        sys.path.pop(0)
    return TABLES, canon


def compare_frames(name, actual, expected):
    _, canon = _canon()
    a, e = canon(actual), canon(expected)
    if list(a.columns) != list(e.columns):
        return [f"{name}: columns {list(a.columns)} != {list(e.columns)}"]
    if len(a) != len(e):
        return [f"{name}: {len(a)} rows, oracle has {len(e)}"]
    if not a.equals(e):
        cols = [c for c in a.columns if not a[c].equals(e[c])]
        return [f"{name}: values differ in {cols}"]
    return []


def query_results(data_dir, out_dir, names):
    """Each query's parquet result equals its DuckDB oracle SQL run over
    the same generated tables."""
    tables, _ = _canon()
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    problems = []
    for name in names:
        if name not in oracles:
            problems.append(f"{name}: no oracle SQL")
            continue
        try:
            actual = pd.read_parquet(f"{out_dir}/{name}")
        except Exception as e:  # noqa: BLE001 - any read failure is a missing result
            problems.append(f"{name}: result missing ({e})")
            continue
        problems += compare_frames(name, actual, con.execute(oracles[name]).df())
    return problems


def _short(uid):
    """`model.<package>.v_1` -> `model.v_1`: graft names every node's
    package `graft`, whatever the project is called."""
    kind, _, rest = uid.partition(".")
    return f"{kind}.{rest.partition('.')[2]}"


def run_results(path, expected_ids):
    """run_results.json holds exactly the expected nodes (`model.v_1`,
    `test.not_null_t_0_id`, ...): models `success`, tests `pass`."""
    with open(path) as f:
        results = json.load(f)["results"]
    got = {_short(r["unique_id"]): r["status"] for r in results}
    problems = []
    missing = sorted(set(expected_ids) - set(got))
    if missing:
        problems.append(f"run_results: {len(missing)} nodes missing, e.g. {missing[:3]}")
    extra = sorted(set(got) - set(expected_ids))
    if extra:
        problems.append(f"run_results: unexpected nodes {extra[:3]}")
    for uid, status in sorted(got.items()):
        want = "pass" if uid.startswith("test.") else "success"
        if uid in expected_ids and status != want:
            problems.append(f"run_results: {uid} is {status}, expected {want}")
    if len(results) != len(got):
        problems.append("run_results: duplicate node results")
    return problems


def live_paths(wh, name):
    with open(f"{wh}/{name}/_commits") as f:
        lines = [l.strip() for l in f if l.strip()]
    return [f"{wh}/{name}/{v}" for v in lines
            if not v.startswith("format=") and not v.startswith("hide=")]


def dag_tables(wh, n_tables):
    """Each table t_i reads back exactly (i, 'y')."""
    problems = []
    con = duckdb.connect()
    for i in range(n_tables):
        try:
            files = [f"{p}/*.parquet" for p in live_paths(wh, f"t_{i}")]
            rows = con.execute(
                f"SELECT id, payload FROM read_parquet({files!r})").fetchall()
        except Exception as e:  # noqa: BLE001
            problems.append(f"t_{i}: unreadable ({e})")
            continue
        if rows != [(i, "y")]:
            problems.append(f"t_{i}: reads back {rows}, expected {[(i, 'y')]}")
    return problems


REF = re.compile(r"\{\{\s*ref\('([^']+)'\)\s*\}\}")


def dag_chain_ends(manifest_path, ends):
    """The view graph graft recorded (relation names, code, dependencies)
    makes each chain's last view return its root's id: the views are
    rebuilt in DuckDB from manifest.json and queried."""
    with open(manifest_path) as f:
        nodes = json.load(f)["nodes"]
    views = {n["name"]: n for n in nodes.values()
             if n.get("resource_type") == "model" and n["name"].startswith("v_")}
    con = duckdb.connect()
    done = set()

    def define(name):
        if name in done:
            return
        n = views[name]
        for dep in n["depends_on"]["nodes"]:
            define(dep.split(".")[-1])
        sql = REF.sub(lambda m: views[m.group(1)]["relation_name"], n["raw_code"])
        con.execute(f"CREATE VIEW {n['relation_name']} AS {sql}")
        done.add(name)

    problems = []
    for end, root in sorted(ends.items()):
        try:
            define(end)
            got = con.execute(f"SELECT id FROM {views[end]['relation_name']}").fetchall()
        except Exception as e:  # noqa: BLE001
            problems.append(f"{end}: {e}")
            continue
        if got != [(root,)]:
            problems.append(f"{end}: returns {got}, expected {[(root,)]}")
    return problems


# ------------------------------------------------- incremental warehouse

ORDER_COLS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate"
LINE_COLS = ("l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice, "
             "l_discount, l_shipdate, _batch")
CUST_COLS = "c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment"


def same_rows(con, name, expected_sql, actual_sql):
    """Multiset equality of two queries (EXCEPT ALL both ways)."""
    n_e = con.execute(f"SELECT count(*) FROM ({expected_sql})").fetchone()[0]
    n_a = con.execute(f"SELECT count(*) FROM ({actual_sql})").fetchone()[0]
    missing = con.execute(f"({expected_sql}) EXCEPT ALL ({actual_sql}) LIMIT 2").fetchall()
    extra = con.execute(f"({actual_sql}) EXCEPT ALL ({expected_sql}) LIMIT 2").fetchall()
    if n_e == n_a and not missing and not extra:
        return []
    return [f"{name}: {n_e} expected rows, {n_a} actual; missing e.g. {missing}; "
            f"unexpected e.g. {extra}"]


def snapshot_problems(con, snap, current, versions):
    """SCD2 invariants of relation `snap` (c_custkey, data columns,
    dbt_valid_from, dbt_valid_to): one open row per key equal to the key's
    row in `current`; as many versions per key as `versions` (key, n)
    says; intervals that neither overlap nor leave gaps."""
    problems = []
    rows = con.execute(f"""
        SELECT c_custkey, count(*) FILTER (WHERE dbt_valid_to IS NULL)
        FROM {snap} GROUP BY c_custkey
        HAVING count(*) FILTER (WHERE dbt_valid_to IS NULL) <> 1 LIMIT 3""").fetchall()
    problems += [f"snapshot key {k}: {n} open rows" for k, n in rows]
    problems += same_rows(con, "snapshot open rows",
                          f"SELECT {CUST_COLS} FROM {current}",
                          f"SELECT {CUST_COLS} FROM {snap} WHERE dbt_valid_to IS NULL")
    problems += same_rows(con, "snapshot versions per key", f"SELECT * FROM {versions}",
                          f"SELECT c_custkey, count(*) FROM {snap} GROUP BY c_custkey")
    rows = con.execute(f"""
        SELECT c_custkey, dbt_valid_from, dbt_valid_to, nxt FROM (
          SELECT *, lead(dbt_valid_from) OVER (PARTITION BY c_custkey
                                               ORDER BY dbt_valid_from) AS nxt
          FROM {snap})
        WHERE (nxt IS NULL AND dbt_valid_to IS NOT NULL)
           OR (nxt IS NOT NULL AND dbt_valid_to IS DISTINCT FROM nxt)
           OR dbt_valid_to <= dbt_valid_from
        LIMIT 3""").fetchall()
    problems += [f"snapshot key {k}: interval [{f}, {t}) then one from {n}"
                 for k, f, t, n in rows]
    return problems


def incr_batch(work, batch, landed):
    """The warehouse state kept after `batch` against DuckDB over the
    source files landed so far (`landed`: batch names)."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in ("orders", "lineitem", "customer"):
        files = [f"{work}/src/{t}/{b}.parquet" for b in landed]
        con.execute(f"CREATE VIEW raw_{t} AS SELECT * FROM read_parquet({files!r})")
    for t, key in (("orders", "o_orderkey"), ("customer", "c_custkey")):
        con.execute(f"""CREATE VIEW cur_{t} AS SELECT * EXCLUDE (rn) FROM (
            SELECT *, row_number() OVER (PARTITION BY {key} ORDER BY _batch DESC) AS rn
            FROM raw_{t}) WHERE rn = 1""")
    base = f"{work}/check/{batch}"
    for rel in ("fct_orders", "fct_lineitem", "mart_revenue", "snap_customer"):
        con.execute(f"""CREATE VIEW {rel} AS SELECT * FROM read_parquet(
            '{base}/{rel}/**/*.parquet', hive_partitioning = true, hive_types_autocast = false)""")
    con.execute(f"CREATE VIEW nation AS SELECT * FROM read_csv('{work}/project/seeds/nation.csv', header = true)")
    problems = same_rows(
        con, "fct_orders",
        f"SELECT {ORDER_COLS}, strftime(o_orderdate, '%Y-%m') AS order_month, _batch FROM cur_orders",
        f"SELECT {ORDER_COLS}, CAST(order_month AS VARCHAR), _batch FROM fct_orders")
    problems += same_rows(con, "fct_lineitem", f"SELECT {LINE_COLS} FROM raw_lineitem",
                          f"SELECT {LINE_COLS} FROM fct_lineitem")
    problems += same_rows(con, "mart_revenue", """
        SELECT n.n_name, strftime(o.o_orderdate, '%Y-%m'), count(DISTINCT o.o_orderkey), count(*),
               CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                        * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DECIMAL(38,4)),
               CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,4))
        FROM raw_lineitem l JOIN cur_orders o ON l.l_orderkey = o.o_orderkey
        JOIN cur_customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2""", """
        SELECT nation, order_month, n_orders, n_lines, CAST(revenue AS DECIMAL(38,4)),
               CAST(quantity AS DECIMAL(38,4)) FROM mart_revenue""")
    con.execute("CREATE VIEW versions AS SELECT c_custkey, count(*) AS n FROM raw_customer GROUP BY 1")
    problems += snapshot_problems(con, "snap_customer", "cur_customer", "versions")
    return [f"{batch}: {p}" for p in problems]


def selftest(tmp):
    """Each checker must accept a correct output and reject a corrupted
    one. Returns (attempted, problems)."""
    problems = []
    attempted = 0

    def expect(label, found, should_fail):
        nonlocal attempted
        attempted += 1
        if bool(found) != should_fail:
            verdict = "accepted a corrupted" if should_fail else "rejected a correct"
            problems.append(f"{label}: checker {verdict} output")

    good = pd.DataFrame({"k": [1, 2, 3], "v": [1.5, 2.5, 3.5], "s": ["a", "b", "c"]})
    bad = good.copy()
    bad.loc[1, "v"] = 2.25
    expect("query intact", compare_frames("q", good.iloc[::-1], good), False)
    expect("query row altered", compare_frames("q", bad, good), True)
    expect("query row dropped", compare_frames("q", good.iloc[:2], good), True)

    ids = [f"model.v_{i}" for i in range(3)] + ["test.not_null_t_0_id"]
    results = [{"unique_id": u.replace(".", ".graft.", 1),
                "status": "pass" if u.startswith("test.") else "success"} for u in ids]
    path = os.path.join(tmp, "run_results.json")
    for label, rs, should_fail in [
            ("dag results intact", results, False),
            ("dag node result missing", results[1:], True),
            ("dag node errored", [dict(results[0], status="error")] + results[1:], True)]:
        with open(path, "w") as f:
            json.dump({"results": rs}, f)
        expect(label, run_results(path, ids), should_fail)

    con = duckdb.connect()
    mart = pd.DataFrame({"nation": ["NATION_1", "NATION_2"], "month": ["1995-01", "1995-01"],
                         "revenue": [1234.5, 99.99]})
    changed = mart.copy()
    changed.loc[1, "revenue"] = 99.98
    for label, actual, should_fail in [("mart intact", mart.iloc[::-1].reset_index(drop=True), False),
                                       ("mart value changed", changed, True)]:
        con.register("expected_mart", mart)
        con.register("actual_mart", actual)
        expect(label, same_rows(con, "mart", "SELECT * FROM expected_mart",
                                "SELECT * FROM actual_mart"), should_fail)
    t = pd.Timestamp
    snap = pd.DataFrame({"c_custkey": [1, 1, 2], "c_name": ["a", "a", "b"],
                         "c_nationkey": [1, 1, 2], "c_acctbal": [10.0, 11.0, 5.0],
                         "c_mktsegment": ["X", "Y", "Z"],
                         "dbt_valid_from": [t("2024-01-01"), t("2024-01-02"), t("2024-01-01")],
                         "dbt_valid_to": [t("2024-01-02"), pd.NaT, pd.NaT]})
    con.register("current", snap[snap.dbt_valid_to.isna()].drop(
        columns=["dbt_valid_from", "dbt_valid_to"]))
    con.register("versions", pd.DataFrame({"c_custkey": [1, 2], "n": [2, 1]}))
    second_open = snap.copy()
    second_open.loc[0, "dbt_valid_to"] = pd.NaT
    gap = snap.copy()
    gap.loc[0, "dbt_valid_to"] = t("2024-01-01 12:00")
    for label, rel, should_fail in [("snapshot intact", snap, False),
                                    ("second open snapshot row", second_open, True),
                                    ("snapshot interval gap", gap, True)]:
        con.register("snap", rel)
        expect(label, snapshot_problems(con, "snap", "current", "versions"), should_fail)
    return attempted, problems
