"""The benchmark's workloads, as the step lists the JVM harness runs.

Each step names the layer its call goes into (a span `<layer>.<function>`
in the traced run). Template steps carry their SQL and `@param` values;
the output check runs the same SQL in DuckDB.
"""
import datetime

import numpy as np

# The 4-way join every template step reads. `@start`/`@end` bound the
# order-date window: WINDOW_DAYS of the ~2,400 days of orders, about 2.5%
# of lineitem. Every step still scans all of lineitem.
WINDOW_DAYS = 60
JOIN = """FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= CAST(@start AS TIMESTAMP)
  AND o.o_orderdate < CAST(@end AS TIMESTAMP)"""

UPSERT_COLS = "l.l_linenumber, l.l_extendedprice, l.l_discount, o.o_orderpriority"

CURATION = ["d_curation_pipeline", "t_tfidf_topk"]
ITERATIVE = ["t_calibration", "d_er_pipeline"]

TABLES = {
    "templates": ["customer", "lineitem", "nation", "orders"],
    "curation": ["documents"],
    "iterative": ["customer", "documents"],
}


def _day(offset):
    return (datetime.date(1995, 1, 1) + datetime.timedelta(days=int(offset))).isoformat()


def template_params(seed):
    """The seed picks the date window, the merge window and which keys the
    merge step nulls out."""
    rng = np.random.default_rng([seed, 99])
    start = int(rng.integers(0, 2_400 - 2 * WINDOW_DAYS))
    return {
        "window": {"start": _day(start), "end": _day(start + WINDOW_DAYS)},
        # the merge batch overlaps the second half of the first window
        "merge": {"start": _day(start + WINDOW_DAYS // 2),
                  "end": _day(start + WINDOW_DAYS * 3 // 2),
                  "nullmod": 50, "nullrem": int(rng.integers(0, 50))},
    }


def templates(seed):
    p = template_params(seed)
    w, m = p["window"], p["merge"]
    return [
        {"name": "text_json", "layer": "sinks", "kind": "text", "format": "json",
         "split": "o_orderpriority", "params": w,
         "query": f"SELECT l.*, o.*, c.c_name, c.c_mktsegment, n.n_name {JOIN}"},
        {"name": "avro", "layer": "sinks", "kind": "avro", "split": "c_mktsegment",
         "params": w,
         "query": "SELECT l.l_orderkey, l.l_linenumber, o.o_custkey, l.l_extendedprice, "
                  f"l.l_discount, l.l_shipdate, c.c_mktsegment {JOIN}"},
        {"name": "tfrecord", "layer": "sinks", "kind": "tfrecord", "split": "l_linestatus",
         "params": w,
         "query": "SELECT l.l_orderkey, l.l_linenumber, l.l_extendedprice, "
                  f"l.l_linestatus {JOIN}"},
        {"name": "upsert_new", "layer": "mutate", "kind": "upsert",
         "keys": ["l_orderkey", "l_linenumber"], "params": w,
         "query": f"SELECT l.l_orderkey, {UPSERT_COLS} {JOIN}"},
        {"name": "upsert_merge", "layer": "mutate", "kind": "upsert", "into": "upsert_new",
         "keys": ["l_orderkey", "l_linenumber"], "error": True, "params": m,
         "query": "SELECT CASE WHEN l.l_orderkey % @nullmod = @nullrem THEN NULL "
                  "ELSE l.l_orderkey END AS l_orderkey, l.l_linenumber, "
                  "l.l_extendedprice * 2 AS l_extendedprice, l.l_discount, "
                  f"o.o_orderpriority {JOIN}"},
    ]


def steps(workload, seed):
    if workload == "templates":
        return templates(seed)
    names = CURATION if workload == "curation" else ITERATIVE
    return [{"name": n, "layer": "operators", "kind": "query"} for n in names]
