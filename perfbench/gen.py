"""Seeded inputs of the three workloads.

Everything a run does is decided here from `--seed` and the key domain of
the fixture (the min/max of the dense keys, read once by `oracle.domain`):
lookup keys, ranges, predicate forms and paths, time-travel targets, DML
ranges, SCD source rows and append slices. The benchmark process receives
only the result. The same seed and domain always give the same inputs.
"""
import datetime
import random

# lookups select (key, amount, tag) so every answer digests the same way
LOOKUP_COLS = {
    "lineitem": ("l_orderkey", "l_extendedprice", "l_returnflag"),
    "orders": ("o_orderkey", "o_totalprice", "o_orderpriority"),
    "customer_ev": ("c_custkey", "c_acctbal", "c_mktsegment"),
}
FORMS = ("eq", "in", "between", "range")
ORDERS_SNAPSHOTS = 20  # orders is appended one file per snapshot
TAG_EVERY = 4
LOOKUP_KEYS = 50  # keys spanned by a range lookup
REQUESTS = 2000
WARMUP = 8

# registry bench queries: OLAP (the plans/functions kernels and operators)
# and the training-data operators. A subset of the registry's bench set:
# every query's first run is cold, and the whole set's cold pass would not
# fit one run's time.
OLAP = ("q_date_extract", "q_events_hourly", "asof_join_events")
TRAINOPS = ("text_bm25", "dedup_exact", "sim_bruteforce_topk")
# SQL-text twins over lake tables of two DataFrame queries; each must
# return exactly its twin's rows
TWINS = {
    "twin.q_date_extract": """
        SELECT year(o_orderdate) AS y, month(o_orderdate) AS m, count(*) AS n,
          CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM lake.orders GROUP BY 1, 2 ORDER BY y, m""",
    "twin.q_events_hourly": """
        SELECT CAST(date_trunc('HOUR', ts) AS TIMESTAMP_NTZ) AS hour, event_type,
          count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM lake.events GROUP BY 1, 2 ORDER BY hour, event_type""",
}
PASS_ORDERS = 64

ROUNDS = 100
DML_ORDERS = 50000  # the DML tables hold the orders with the lowest keys
MAINTAIN_EVERY = 4
INSERT_OFFSET = 10_000_000  # inserted keys land above every fixture key


def _window(rng, lo, hi, width):
    a = rng.randint(lo, hi - width + 1)
    return a, a + width - 1


def _lookup(rng, i, dom, table, path, time_travel):
    key, amount, tag = LOOKUP_COLS[table]
    lo, hi = dom["customer" if table == "customer_ev" else "orders"]
    form = rng.choice(FORMS)
    a, b = _window(rng, lo, hi, LOOKUP_KEYS)
    if form == "eq":
        pred = f"{key} = {a}"
    elif form == "in":
        keys = sorted(rng.randint(lo, hi) for _ in range(5))
        pred = f"{key} IN ({', '.join(map(str, keys))})"
    elif form == "between":
        pred = f"{key} BETWEEN {a} AND {b}"
    else:
        pred = f"{key} >= {a} AND {key} <= {b}"
    ref, suffix = None, ""
    if time_travel:
        snap = rng.randint(1, ORDERS_SNAPSHOTS)
        if rng.random() < 0.5:
            snap = max(TAG_EVERY, snap - snap % TAG_EVERY)
            ref, suffix = {"tag": f"v{snap}"}, f"$tag_v{snap}"
        else:
            ref, suffix = {"snapshot": snap}, f"$snapshot_{snap}"
        form = "time_travel"
    elif table == "customer_ev":
        form = "evolved"
    return {
        "id": i, "path": path, "form": form, "table": table, "ref": ref,
        "sql": f"SELECT {key}, {amount}, {tag} FROM lake.`{table}{suffix}` WHERE {pred}",
        "filter": pred, "cols": [key, amount, tag],
    }


# one block of the request mix: (table, path, time travel, count); three
# in four lookups are SQL text. Blocks are shuffled, not sampled, so every
# run has the same mix and the percentiles sit at the same places in it.
MIX = (("lineitem", "sql", False, 3), ("lineitem", "api", False, 1),
       ("orders", "sql", False, 6), ("orders", "api", False, 1),
       ("orders", "sql", True, 1), ("orders", "api", True, 1),
       ("customer_ev", "sql", False, 2), ("customer_ev", "api", False, 1))
MIX_BLOCK = sum(k for *_, k in MIX)


def _mix(rng, n):
    block = [m[:3] for m in MIX for _ in range(m[3])]
    out = []
    while len(out) < n:
        rng.shuffle(block)
        out += block
    return out[:n]


def point_reads(seed, dom):
    rng = random.Random(seed)
    lo, hi = dom["customer"]
    return {
        "layout": {
            "lineitem_files": 60, "orders_snapshots": ORDERS_SNAPSHOTS,
            "lineitem_columns": ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
                                 "l_returnflag", "l_shipdate"],
            "orders_tags": {f"v{k}": k for k in range(TAG_EVERY, ORDERS_SNAPSHOTS + 1, TAG_EVERY)},
            "ev_split": (lo + hi) // 2,
        },
        "warmup": [_lookup(rng, -1 - i, dom, *m) for i, m in enumerate(_mix(rng, WARMUP))],
        "requests": [_lookup(rng, i, dom, *m) for i, m in enumerate(_mix(rng, REQUESTS))],
    }


def analytics(seed, dom):
    rng = random.Random(seed)
    names = list(OLAP + TRAINOPS + tuple(TWINS))
    orders = []
    for _ in range(PASS_ORDERS):
        rng.shuffle(names)
        orders.append(list(names))
    return {
        "layout": {"tables": [
            {"name": "orders", "key": "o_orderkey", "files": 16},
            {"name": "events", "key": "event_id", "files": 8},
        ]},
        "groups": [
            {"name": "olap", "queries": list(OLAP)},
            {"name": "trainops", "queries": list(TRAINOPS)},
            {"name": "lake_sql", "queries": list(TWINS)},
        ],
        "twins": [{"name": n, "sql": s} for n, s in TWINS.items()],
        "pass_orders": orders,
    }


ORDERS_COLS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"


def _dml_round(rng, r, dom):
    lo, hi = dom["orders"]
    span = hi - lo + 1
    ua, ub = _window(rng, lo, hi, span // 200)
    da, db = _window(rng, lo, hi, span // 500)
    m = r % 7
    s1a, s1b = _window(rng, lo, hi, span // 50)
    s1i = _window(rng, lo, hi, span // 20)
    s1d = _window(rng, lo, hi, span // 50)
    s2a, s2b = _window(rng, lo, hi, span // 50)
    s2i = _window(rng, lo, hi, span // 20)
    ea, eb = _window(rng, *dom["events"], 4000)
    la, lb = _window(rng, lo, hi, LOOKUP_KEYS)
    offset = INSERT_OFFSET * (r + 1)
    delta1, delta2 = 1 + r % 3, 1 + r % 4
    insert = (f"SELECT o_orderkey + {offset} AS o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
              f"o_orderdate, o_orderpriority, 'I' AS op FROM fixture_orders ")
    upd = ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + {d}.0 AS o_totalprice, "
           "o_orderdate, o_orderpriority, 'U' AS op FROM fixture_orders ")
    scd1 = (upd.format(d=delta1) + f"WHERE o_orderkey BETWEEN {s1a} AND {s1b} AND o_orderkey % 7 = {m} "
            "UNION ALL " + insert + f"WHERE o_orderkey BETWEEN {s1i[0]} AND {s1i[1]} AND o_orderkey % 50 = 3 "
            f"UNION ALL SELECT {ORDERS_COLS}, 'D' AS op FROM fixture_orders "
            f"WHERE o_orderkey BETWEEN {s1d[0]} AND {s1d[1]} AND o_orderkey % 7 = {(m + 3) % 7} "
            "AND o_orderkey % 3 = 0")
    scd2 = (upd.format(d=delta2) + f"WHERE o_orderkey BETWEEN {s2a} AND {s2b} AND o_orderkey % 5 = {r % 5} "
            "UNION ALL " + insert + f"WHERE o_orderkey BETWEEN {s2i[0]} AND {s2i[1]} AND o_orderkey % 50 = 7")
    effective = (datetime.datetime(2002, 1, 1) + datetime.timedelta(days=r)).isoformat()
    agg = "SELECT count(*), sum({k}), sum(CAST(round({a} * 100) AS BIGINT)), count({t}) FROM {{t}}"
    look = "SELECT {k}, {a}, {t} FROM {{t}} WHERE {k} BETWEEN {x} AND {y}"
    ea2, eb2 = _window(rng, *dom["events"], LOOKUP_KEYS)
    cols = {"orders_dml": ("o_orderkey", "o_totalprice", "o_orderpriority"),
            "orders_scd2": ("o_orderkey", "o_totalprice", "effective_end"),
            "events_ingest": ("event_id", "value", "event_type")}
    reads = {}
    for t, (k, a, tg) in cols.items():
        x, y = (ea2, eb2) if t == "events_ingest" else (la, lb)
        reads[t] = {"lookup": look.format(k=k, a=a, t=tg, x=x, y=y),
                    "aggregate": agg.format(k=k, a=a, t=tg)}
    return {
        "append": {"lo": ea, "hi": eb},
        "update": {"where": f"o_orderkey >= {ua} AND o_orderkey <= {ub}",
                   "set": {"o_totalprice": "o_totalprice + 1.0", "o_orderpriority": f"'U-{r}'"}},
        "delete": {"where": f"o_orderkey >= {da} AND o_orderkey <= {db}"},
        "scd1": {"source": scd1},
        "scd2": {"source": scd2, "effective": effective},
        "reads": reads,
    }


def dml_ingest(seed, dom):
    rng = random.Random(seed)
    lo = dom["orders"][0]
    dml_dom = dict(dom, orders=[lo, min(dom["orders"][1], lo + DML_ORDERS - 1)])
    return {
        "layout": {"orders_files": 16, "scd2_start": "1990-01-01 00:00:00",
                   "maintain_every": MAINTAIN_EVERY,
                   "orders_below": dml_dom["orders"][1] + 1},
        "rounds": [_dml_round(rng, r, dml_dom) for r in range(ROUNDS)],
    }


WORKLOADS = {"point_reads": point_reads, "analytics": analytics, "dml_ingest": dml_ingest}


def inputs(workload, seed, dom):
    return WORKLOADS[workload](seed, dom)
