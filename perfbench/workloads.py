"""Seeded workload inputs. The harness only ever receives what these
functions return; the same seed always gives byte-identical inputs.

* `api_requests(seed)`: ScalliGraph JSON query requests, each with the
  DuckDB SQL that must return the same rows.
* `query_orders(names, seed)`: one permutation of the registry queries
  per iteration.
"""
import json
import random

# Vertex labels the page/count templates read, with their key, numeric
# fields (name, low, high, integral) and categorical fields (name, values).
LABELS = {
    "customer": ("c_custkey", [("c_acctbal", -1000.0, 10000.0, False), ("c_nationkey", 0, 25, True)],
                 [("c_mktsegment", ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])],
                 ("c_name", ["*1*", "*00*", "*42*", "*7"])),
    "supplier": ("s_suppkey", [("s_acctbal", -1000.0, 10000.0, False), ("s_nationkey", 0, 25, True)],
                 [], ("s_name", ["*1*", "*0*", "*3"])),
    "part": ("p_partkey", [("p_size", 1, 51, True), ("p_retailprice", 900.0, 1000.0, False)],
             [("p_type", ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])],
             ("p_name", ["red*", "*gear", "*bolt", "small*", "*o*"])),
    "orders": ("o_orderkey", [("o_totalprice", 1000.0, 500000.0, False), ("o_custkey", 0, 1500, True)],
               [("o_orderpriority", ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]),
                ("o_orderstatus", ["F", "O", "P"])], None),
}

# field aggregations: label, group field, numeric field for sum/avg/min/max
FIELD_AGGS = [
    ("orders", "o_orderpriority", "o_totalprice"),
    ("orders", "o_orderstatus", "o_totalprice"),
    ("customer", "c_mktsegment", "c_acctbal"),
    ("part", "p_type", "p_retailprice"),
    ("lineitem", "l_returnflag", "l_extendedprice"),
]

# time buckets on events.ts: JSON interval, DuckDB bucket expression
INTERVALS = [
    ("1d", "(epoch_ms(ts) - epoch_ms(ts) % 86400000)"),
    ("6h", "(epoch_ms(ts) - epoch_ms(ts) % 21600000)"),
    ("12h", "(epoch_ms(ts) - epoch_ms(ts) % 43200000)"),
    ("1w", "(epoch_ms(ts) - (epoch_ms(ts) + 259200000) % 604800000)"),
]

TEMPLATE_WEIGHTS = [("page", 7), ("count", 3), ("limitedCount", 2), ("field", 3), ("time", 2), ("hop", 4)]
HOP_KINDS = ["cust_orders", "order_cust", "line_orders", "supp_nation"]


def _num(rng, lo, hi, integral):
    if integral:
        return rng.randrange(lo, hi)
    return round(rng.uniform(lo, hi), 1)


def _sql_lit(v):
    return f"'{v}'" if isinstance(v, str) else repr(v)


def _leaf(rng, label, alias):
    """One filter leaf: (JSON, SQL)."""
    key, nums, cats, like = LABELS[label]
    a = f"{alias}." if alias else ""
    kinds = ["between", "cmp"] + (["in"] if cats else []) + (["like"] if like else [])
    kind = rng.choice(kinds)
    if kind == "between":
        f, lo, hi, integral = rng.choice(nums)
        x, y = sorted((_num(rng, lo, hi, integral), _num(rng, lo, hi, integral)))
        if x == y:
            y = x + 1
        return ({"_between": {"_field": f, "_from": x, "_to": y}}, f"({a}{f} >= {x!r} AND {a}{f} < {y!r})")
    if kind == "cmp":
        f, lo, hi, integral = rng.choice(nums)
        op, sql = rng.choice([("_gte", ">="), ("_lt", "<"), ("_gt", ">"), ("_lte", "<=")])
        x = _num(rng, lo, hi, integral)
        return ({op: {f: x}}, f"({a}{f} {sql} {x!r})")
    if kind == "in":
        f, vals = rng.choice(cats)
        pick = sorted(rng.sample(vals, rng.randint(1, 3)))
        return ({"_in": {"_field": f, "_values": pick}},
                f"({a}{f} IN ({', '.join(_sql_lit(v) for v in pick)}))")
    f, pats = like
    p = rng.choice(pats)
    lead, trail = p.startswith("*"), p.endswith("*")
    core = p.strip("*")
    return ({"_like": {f: p}}, f"({a}{f} LIKE '{'%' if lead else ''}{core}{'%' if trail else ''}')")


def _filter(rng, label, alias=""):
    """A filter tree of one to three leaves under `_and`/`_or`/`_not`."""
    shape = rng.choice(["leaf", "and", "or", "not", "and_or"])
    if shape == "leaf":
        return _leaf(rng, label, alias)
    if shape == "not":
        j, s = _leaf(rng, label, alias)
        return {"_not": j}, f"(NOT {s})"
    if shape == "and_or":
        (j1, s1), (j2, s2), (j3, s3) = (_leaf(rng, label, alias) for _ in range(3))
        return {"_and": [j1, {"_or": [j2, j3]}]}, f"({s1} AND ({s2} OR {s3}))"
    (j1, s1), (j2, s2) = _leaf(rng, label, alias), _leaf(rng, label, alias)
    op = "_and" if shape == "and" else "_or"
    return {op: [j1, j2]}, f"({s1} {'AND' if shape == 'and' else 'OR'} {s2})"


def _page(rng, variant):
    label = sorted(LABELS)[variant % len(LABELS)]
    key, nums, cats, _ = LABELS[label]
    fj, fs = _filter(rng, label)
    sort_field = rng.choice([n[0] for n in nums] + [c[0] for c in cats])
    direction = rng.choice(["asc", "desc"])
    frm = rng.randrange(0, 40)
    size = rng.randrange(5, 40)
    steps = [{"_name": f"all_{label}"}, {"_name": "filter", "_query": fj},
             {"_name": "sort", "_fields": [{sort_field: direction}, {key: "asc"}]},
             {"_name": "page", "from": frm, "to": frm + size}]
    sql = (f"SELECT * FROM {label} WHERE {fs} ORDER BY {sort_field} {direction.upper()}, {key} "
           f"LIMIT {size} OFFSET {frm}")
    return steps, sql, True


def _count(rng, limited, variant):
    labels = sorted(LABELS) + (["lineitem"] if limited else [])
    label = labels[variant % len(labels)]
    if label == "lineitem":
        steps = [{"_name": "all_lineitem"}, {"_name": "limitedCount"}]
        where = "TRUE"
    else:
        fj, where = _filter(rng, label)
        steps = [{"_name": f"all_{label}"}, {"_name": "filter", "_query": fj},
                 {"_name": "limitedCount" if limited else "count"}]
    if limited:
        sql = (f"SELECT CASE WHEN c >= 1000 THEN CAST(-1000 AS BIGINT) ELSE c END AS count "
               f"FROM (SELECT count(*) AS c FROM (SELECT 1 FROM {label} WHERE {where} LIMIT 1000) t) s")
    else:
        sql = f"SELECT count(*) AS count FROM {label} WHERE {where}"
    return steps, sql, True


def _dsum(f):
    return f"CAST(SUM(CAST({f} AS DECIMAL(38,6))) AS DOUBLE)"


def _field(rng, variant):
    label, group, num = FIELD_AGGS[variant % len(FIELD_AGGS)]
    subs = [({"_agg": "count", "_name": "cnt"}, "count(*) AS cnt")]
    for agg in sorted(rng.sample(["sum", "avg", "min", "max"], rng.randint(1, 3))):
        sql = {"sum": f"{_dsum(num)} AS v_sum",
               "avg": f"{_dsum(num)} / count({num}) AS v_avg",
               "min": f"min({num}) AS v_min", "max": f"max({num}) AS v_max"}[agg]
        subs.append(({"_agg": agg, "_field": num, "_name": f"v_{agg}"}, sql))
    desc = rng.random() < 0.5
    size = rng.randrange(2, 6)
    agg = {"_name": "aggregation", "_agg": "field", "_field": group,
           "_select": [j for j, _ in subs], "_order": ["-cnt" if desc else "cnt"], "_size": size}
    sql = (f"SELECT {group}, {', '.join(s for _, s in subs)} FROM {label} GROUP BY 1 "
           f"ORDER BY cnt {'DESC' if desc else 'ASC'}, {group} LIMIT {size}")
    return [{"_name": f"all_{label}"}, agg], sql, True


def _time(rng, variant):
    interval, bucket = INTERVALS[variant % len(INTERVALS)]
    subs = [({"_agg": "count", "_name": "cnt"}, "count(*) AS cnt")]
    if rng.random() < 0.5:
        subs.append(({"_agg": "sum", "_field": "value", "_name": "v_sum"}, f"{_dsum('value')} AS v_sum"))
    agg = {"_name": "aggregation", "_agg": "time", "_field": "ts", "_interval": interval,
           "_select": [j for j, _ in subs]}
    where = "TRUE"
    if rng.random() < 0.5:
        et = rng.choice(["click", "error", "purchase", "signup", "view"])
        agg["_query"] = {"_is": {"event_type": et}}
        where = f"event_type = '{et}'"
    sql = (f"SELECT {bucket} AS ts_bucket, {', '.join(s for _, s in subs)} FROM events "
           f"WHERE {where} GROUP BY 1")
    # time buckets come back in no particular order: compare as a row set
    return [{"_name": "all_events"}, agg], sql, False


def _hop(rng, variant):
    kind = HOP_KINDS[variant % len(HOP_KINDS)]
    dedup = rng.random() < 0.5
    if kind == "cust_orders":
        fj, fs = _filter(rng, "customer", "c")
        frm, size = rng.randrange(0, 30), rng.randrange(5, 30)
        steps = [{"_name": "all_customer"}, {"_name": "filter", "_query": fj},
                 {"_name": "in", "_edge": "placed_by"}] + ([{"_name": "dedup"}] if dedup else []) + [
                 {"_name": "sort", "_fields": [{"o_orderkey": "asc"}]},
                 {"_name": "page", "from": frm, "to": frm + size}]
        sql = (f"SELECT {'DISTINCT ' if dedup else ''}o.* FROM orders o JOIN customer c "
               f"ON o.o_custkey = c.c_custkey WHERE {fs} ORDER BY o.o_orderkey LIMIT {size} OFFSET {frm}")
        return steps, sql, True
    if kind == "order_cust":
        fj, fs = _filter(rng, "orders", "o")
        frm, size = rng.randrange(0, 30), rng.randrange(5, 30)
        steps = [{"_name": "all_orders"}, {"_name": "filter", "_query": fj},
                 {"_name": "out", "_edge": "placed_by"}] + ([{"_name": "dedup"}] if dedup else []) + [
                 {"_name": "sort", "_fields": [{"c_custkey": "asc"}]},
                 {"_name": "page", "from": frm, "to": frm + size}]
        sql = (f"SELECT {'DISTINCT ' if dedup else ''}c.* FROM orders o JOIN customer c "
               f"ON o.o_custkey = c.c_custkey WHERE {fs} ORDER BY c.c_custkey LIMIT {size} OFFSET {frm}")
        return steps, sql, True
    if kind == "line_orders":
        q = rng.randrange(30, 50)
        steps = [{"_name": "all_lineitem"}, {"_name": "filter", "_query": {"_gt": {"l_quantity": q}}},
                 {"_name": "out", "_edge": "of_order"}] + ([{"_name": "dedup"}] if dedup else []) + [
                 {"_name": "count"}]
        inner = (f"SELECT {'DISTINCT ' if dedup else ''}o.* FROM lineitem l JOIN orders o "
                 f"ON l.l_orderkey = o.o_orderkey WHERE l.l_quantity > {q}")
        return steps, f"SELECT count(*) AS count FROM ({inner}) t", True
    fj, fs = _filter(rng, "supplier", "s")
    steps = [{"_name": "all_supplier"}, {"_name": "filter", "_query": fj},
             {"_name": "out", "_edge": "supp_nation"}] + ([{"_name": "dedup"}] if dedup else []) + [
             {"_name": "count"}]
    inner = (f"SELECT {'DISTINCT ' if dedup else ''}n.* FROM supplier s JOIN nation n "
             f"ON s.s_nationkey = n.n_nationkey WHERE {fs}")
    return steps, f"SELECT count(*) AS count FROM ({inner}) t", True


def template_counts(n):
    """How many of the `n` requests each template gets: proportional to its
    weight (largest remainder), so every seed serves the same mix."""
    total = sum(w for _, w in TEMPLATE_WEIGHTS)
    exact = [(t, n * w / total) for t, w in TEMPLATE_WEIGHTS]
    counts = {t: int(x) for t, x in exact}
    for t, _ in sorted(exact, key=lambda e: int(e[1]) - e[1])[:n - sum(counts.values())]:
        counts[t] += 1
    return counts


def api_requests(seed, n=32):
    """`n` requests: id, template, the JSON query, its DuckDB SQL, whether
    the result order is part of the answer, and whether the response is a
    bare number (a count) rather than rows. Every seed gets the same number
    of each template and cycles through the template's variants (label,
    hop kind, bucket width) from a seeded offset; filters, constants,
    selectivities, page offsets and the order come from the seed."""
    rng = random.Random(f"api_query/{seed}")
    make = {"page": lambda v: _page(rng, v), "count": lambda v: _count(rng, False, v),
            "limitedCount": lambda v: _count(rng, True, v), "field": lambda v: _field(rng, v),
            "time": lambda v: _time(rng, v), "hop": lambda v: _hop(rng, v)}
    drawn = []
    for t, c in template_counts(n).items():
        offset = rng.randrange(1000)
        drawn += [(t, make[t](offset + k)) for k in range(c)]
    rng.shuffle(drawn)
    return [{"id": f"r{i:02d}", "template": t, "json": json.dumps(steps, sort_keys=True), "sql": sql,
             "ordered": ordered, "scalar": steps[-1]["_name"] in ("count", "limitedCount")}
            for i, (t, (steps, sql, ordered)) in enumerate(drawn)]


def sample(ids, k, seed):
    """`k` of the ids, in their order, chosen by the seed."""
    rng = random.Random(f"verify/{seed}")
    keep = set(rng.sample(ids, min(k, len(ids))))
    return [i for i in ids if i in keep]


def query_orders(names, seed, n=16):
    """`n` permutations of the query names, one per iteration."""
    rng = random.Random(f"orders/{seed}")
    out = []
    for _ in range(n):
        o = sorted(names)
        rng.shuffle(o)
        out.append(o)
    return out
