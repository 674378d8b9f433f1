"""Answer checks against DuckDB over the read-only fixture.

Runs after the benchmark process has exited, so no DuckDB work overlaps a
timed call. Each check returns the set of op indexes whose answer is wrong;
`metrics` counts those as failed and never times them.
"""
import glob
import os

import duckdb

FIXTURE_TABLES = ("lineitem", "orders", "customer", "events", "part", "supplier",
                  "nation", "region", "documents", "embeddings")


def connect(fixture, threads):
    con = duckdb.connect()
    con.execute(f"SET threads={int(threads)}")
    for t in FIXTURE_TABLES:
        p = os.path.join(fixture, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def domain(con):
    """Min/max of the fixture's dense keys: all the generator needs."""
    def span(sql):
        lo, hi = con.execute(sql).fetchone()
        return [int(lo), int(hi)]
    return {
        "orders": span("SELECT min(o_orderkey), max(o_orderkey) FROM orders"),
        "events": span("SELECT min(event_id), max(event_id) FROM events"),
        "customer": span("SELECT min(c_custkey), max(c_custkey) FROM customer"),
    }


def _digest(con, sql):
    return [0 if v is None else int(v) for v in con.execute(sql).fetchone()]


def check_point_reads(con, inputs, result):
    """Each lookup against the same predicate over the fixture table; a
    time-travel read sees the key ranges of the files its snapshot holds."""
    ops = result["ops"]
    split = inputs["layout"]["ev_split"]
    order_files = result["workload"]["orders_files"]
    tags = inputs["layout"]["orders_tags"]
    by_id = {r["id"]: r for r in inputs["warmup"] + inputs["requests"]}
    cache, wrong = {}, set()
    for i, op in enumerate(ops):
        if op["kind"] != "lookup" or op["error"] is not None:
            continue
        r = by_id[op["info"]["id"]]
        if r["id"] not in cache:
            key, amount, tag = r["cols"]
            src = {"lineitem": "lineitem", "customer_ev": "customer"}.get(r["table"], "orders")
            where = r["filter"]
            if r["ref"] is not None:
                snap = r["ref"]["snapshot"] if "snapshot" in r["ref"] else tags[r["ref"]["tag"]]
                files = " OR ".join(f"{key} BETWEEN {a} AND {b}" for a, b in order_files[:snap])
                where = f"({where}) AND ({files})"
            if r["table"] == "customer_ev":  # rows written before the column existed read NULL
                tag = f"CASE WHEN c_custkey > {split} THEN {tag} END"
            cache[r["id"]] = _digest(con, f"SELECT count(*), sum({key}), "
                                          f"sum(CAST(round({amount} * 100) AS BIGINT)), count({tag}) "
                                          f"FROM {src} WHERE {where}")
        if op["digest"] != cache[r["id"]]:
            wrong.add(i)
    return wrong


def _canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(repr)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def check_analytics(con, result, ops):
    """Registry answers (written once per run as parquet) against each
    query's oracle SQL; twins and timed samples were matched in-process
    against the checked answer (`info.match`)."""
    import pandas as pd
    oracle_sql = result["workload"]["oracle_sql"]
    wrong = set()
    for i, op in enumerate(ops):
        if op["error"] is not None:
            continue
        if op["phase"] == "check" and "result_dir" in op["info"]:
            sql = oracle_sql.get(op["name"])
            if sql is None:
                continue
            files = glob.glob(os.path.join(op["info"]["result_dir"], "*.parquet"))
            got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
            exp = con.execute(sql).fetchdf()
            if sorted(got.columns) != sorted(exp.columns) or len(got) != len(exp) \
                    or not _canon(got).equals(_canon(exp)):
                wrong.add(i)
        elif op["info"].get("match") is False:
            wrong.add(i)
    return wrong


def _replay_tables(con, layout):
    con.execute("CREATE OR REPLACE TABLE fixture_orders AS SELECT * FROM orders")
    con.execute("CREATE OR REPLACE TABLE orders_dml AS SELECT * FROM fixture_orders "
                f"WHERE o_orderkey < {layout['orders_below']}")
    con.execute("CREATE OR REPLACE TABLE orders_scd2 AS SELECT *, "
                f"TIMESTAMP '{layout['scd2_start']}' AS effective_start, "
                "CAST(NULL AS TIMESTAMP) AS effective_end FROM orders_dml")
    con.execute("CREATE OR REPLACE TABLE events_ingest AS "
                "SELECT event_id, user_id, event_type, value FROM events WHERE false")


VALUE_COLS = ("o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
ORDER_COLS = "o_orderkey, " + ", ".join(VALUE_COLS)


def _count(con, sql):
    return int(con.execute(sql).fetchone()[0])


def _apply(con, kind, rin):
    """Apply one round's operation to the replay tables; return the rows
    it changed (added, removed or rewritten to a new value)."""
    differs = " OR ".join(f"t.{c} IS DISTINCT FROM s.{c}" for c in VALUE_COLS)
    if kind == "append":
        a = rin["append"]
        n = _count(con, f"SELECT count(*) FROM events WHERE event_id BETWEEN {a['lo']} AND {a['hi']}")
        con.execute("INSERT INTO events_ingest SELECT event_id, user_id, event_type, value "
                    f"FROM events WHERE event_id BETWEEN {a['lo']} AND {a['hi']}")
        return n
    if kind == "update":
        u = rin["update"]
        n = _count(con, f"SELECT count(*) FROM orders_dml WHERE {u['where']}")
        sets = ", ".join(f"{k} = {v}" for k, v in u["set"].items())
        con.execute(f"UPDATE orders_dml SET {sets} WHERE {u['where']}")
        return n
    if kind == "delete":
        w = rin["delete"]["where"]
        n = _count(con, f"SELECT count(*) FROM orders_dml WHERE {w}")
        con.execute(f"DELETE FROM orders_dml WHERE {w}")
        return n
    if kind == "scd1":
        con.execute(f"CREATE OR REPLACE TEMP TABLE src AS {rin['scd1']['source']}")
        dels = _count(con, "SELECT count(*) FROM orders_dml WHERE o_orderkey IN "
                           "(SELECT o_orderkey FROM src WHERE op = 'D')")
        con.execute("DELETE FROM orders_dml WHERE o_orderkey IN (SELECT o_orderkey FROM src WHERE op = 'D')")
        con.execute("CREATE OR REPLACE TEMP TABLE ups AS SELECT s.* FROM src s "
                    "LEFT JOIN orders_dml t ON t.o_orderkey = s.o_orderkey "
                    f"WHERE s.op <> 'D' AND (t.o_orderkey IS NULL OR {differs})")
        n = _count(con, "SELECT count(*) FROM ups")
        con.execute("DELETE FROM orders_dml WHERE o_orderkey IN (SELECT o_orderkey FROM ups)")
        con.execute(f"INSERT INTO orders_dml SELECT {ORDER_COLS} FROM ups")
        return dels + n
    if kind == "scd2":
        eff = rin["scd2"]["effective"].replace("T", " ")
        con.execute(f"CREATE OR REPLACE TEMP TABLE src AS {rin['scd2']['source']}")
        con.execute("CREATE OR REPLACE TEMP TABLE ups AS SELECT s.*, t.o_orderkey IS NOT NULL AS matched "
                    "FROM src s LEFT JOIN (SELECT * FROM orders_scd2 WHERE effective_end IS NULL) t "
                    "ON t.o_orderkey = s.o_orderkey "
                    f"WHERE s.op <> 'D' AND (t.o_orderkey IS NULL OR {differs})")
        closed = _count(con, "SELECT count(*) FROM ups WHERE matched")
        con.execute(f"UPDATE orders_scd2 SET effective_end = TIMESTAMP '{eff}' WHERE effective_end IS NULL "
                    "AND o_orderkey IN (SELECT o_orderkey FROM ups WHERE matched)")
        con.execute(f"INSERT INTO orders_scd2 SELECT {ORDER_COLS}, TIMESTAMP '{eff}', NULL FROM ups")
        return closed + _count(con, "SELECT count(*) FROM ups")
    raise ValueError(kind)


COMMITS = ("append", "update", "delete", "scd1", "scd2")


def check_dml(con, inputs, ops):
    """Replays every round's operations on DuckDB copies of the tables and
    checks each post-commit lookup and aggregate against the replay (the
    events aggregate proves the streaming append landed exactly once).
    Returns the wrong op indexes and, per commit op index, the rows it
    changed."""
    _replay_tables(con, inputs["layout"])
    rounds = inputs["rounds"]
    reads = {}
    commits = {}
    for i, op in enumerate(ops):
        info = op["info"]
        if op["kind"] == "read":
            reads[(info["round"], info["after"], info["kind"])] = i
        elif op["kind"] in COMMITS:
            commits[(info["round"], op["kind"])] = i
    wrong, changed = set(), {}
    done = max([k[0] for k in commits] + [-1]) + 1
    for r in range(done):
        for kind in COMMITS:
            i = commits.get((r, kind))
            if i is None:
                continue
            if ops[i]["error"] is not None:
                return wrong, changed  # the replay cannot follow a failed commit
            changed[i] = _apply(con, kind, rounds[r])
            table = {"append": "events_ingest", "scd2": "orders_scd2"}.get(kind, "orders_dml")
            for rk in ("lookup", "aggregate"):
                j = reads.get((r, kind, rk))
                if j is None or ops[j]["error"] is not None:
                    continue
                sql = rounds[r]["reads"][table][rk].replace("{t}", table)
                if rk == "lookup":
                    sql = ("SELECT count(*), sum(c0), sum(CAST(round(c1 * 100) AS BIGINT)), count(c2) "
                           f"FROM ({sql}) AS q(c0, c1, c2)")
                if ops[j]["digest"] != _digest(con, sql):
                    wrong.add(j)
    return wrong, changed
