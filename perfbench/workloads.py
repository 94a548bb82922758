"""Seeded operation streams for the two benchmark workloads.

`plan(workload, seed)` returns the operations the harness runs: a
`warmup` list of units (run during set-up) and a `units` list (run in
the timed closed loop, whole units at a time). Everything the engine
receives — requests and their order, unsafe SQL text, gate order, ETL
specs, store batches, delete ids and queries — is derived here from the
seed.

Workloads (why each was chosen; what it should and should not stress):

* sql-interactive — the paper's request path: natural-language requests
  planned into SQL by the engine's own demo planner
  (`compile.DemoPlanner`) and executed through the guarded execute path
  (validate, auto-LIMIT, serialize); unsafe SQL text that must be
  refused; and one relational gate of each registry module.
  Driver-bound: Catalyst and scheduler glue move it; llmops and the
  store code are not on its path.
* etl-store — the write side: ETL loads (append, dynamic-partition
  overwrite), a MERGE upsert, compaction, and a full TextIndex and
  IvfIndex lifecycle in a fresh warehouse per cycle. Nothing is
  reusable between cycles, so work moved from reads into writes or
  lookups shows here.

The request mix of sql-interactive is a design choice, not a measured
trace: the paper publishes no traffic. Its ratios and their reasons are
next to the constants below.
"""
import random

# sql-interactive: one gate of each relational registry module, the
# module's cheapest by warm latency at sf0.1 on local[4], so that the
# eight fit the run budget twice (set-up and timed loop). The same eight
# in every run: set-up warms the same gates whatever the seed, and every
# run times every module.
SQL_GATES = [
    "q04_topk_recent",                # Relational
    "q25_window_first_last",          # WindowOps
    "q31_array_ops",                  # Scalar
    "q135_tpch_q14_promo_revenue",    # TpchSuite
    "q141_tpch_q22_dormant_rich",     # TpchSuite2
    "q148_tpch_q6_forecast_revenue",  # TpchSuite3
    "q95_funnel",                     # EventOps
    "q85_catalog_scan",               # PipelineQueries
]
# The tables the demo planner sees (its catalog). Each has a primary key,
# so the plan's ORDER BY is total and the answer can be checked exactly;
# lineitem (no key) and embeddings (a float-array column) are left out.
DEMO_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
               "events", "documents"]
# Wordings of a preview request; the planner keys on the table name only.
REQUESTS = ["show {t}", "preview the {t} table", "list a few {t} rows",
            "what is in {t}?"]
# Per unit: every demo table this many times, so each unit plans and runs
# the same SQL and the seed changes only order, wording and the unsafe
# statements. With the eight gates and the unsafe requests, SQL requests
# are 36 of a unit's 44 operations (82 %): p50 is a SQL-request latency
# and p90 a gate latency.
REQUESTS_PER_TABLE = 4
# Unsafe SQL text per unit: 4 of 36 SQL requests (11 %). Enough that every
# unit sends a few statements through the refusal path; few enough that
# refusals, which cost almost nothing, stay well below the p50 rank.
UNSAFE_PER_UNIT = 4
# One statement per verb of SafetyValidator.destructiveCommands, plus the
# two evasions it names: a verb behind a comment (text gate) and a write
# behind a CTE (plan gate).
UNSAFE_SQL = [
    "DELETE FROM {t} WHERE 1 = 1",
    "DROP TABLE {t}",
    "TRUNCATE TABLE {t}",
    "UPDATE {t} SET x = 0 WHERE 1 = {k}",
    "INSERT INTO region VALUES ({k}, 'X')",
    "ALTER TABLE {t} RENAME TO {t}_old",
    "CREATE TABLE t{k} AS SELECT * FROM {t}",
    "GRANT SELECT ON {t} TO u{k}",
    "REVOKE SELECT ON {t} FROM u{k}",
    "MERGE INTO {t} USING {t} s ON 1 = {k} WHEN MATCHED THEN DELETE",
    "-- cleanup\nDROP TABLE {t}",
    "WITH x AS (SELECT * FROM region) INSERT INTO region SELECT * FROM x",
]

# etl-store: inputs come from one of a fixed set of variants, so the
# expected digests of every variant can be committed with the benchmark.
ETL_VARIANTS = 8
ETL_CYCLES = 4
COMPACT_TARGET_BYTES = 64 * 1024

WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]


def _request(rng, table):
    return {"kind": "sql", "name": "sql", "table": table, "unsafe": False,
            "request": rng.choice(REQUESTS).format(t=table)}


def _unsafe(rng):
    t = rng.choice(DEMO_TABLES)
    return {"kind": "sql", "name": "sql", "unsafe": True,
            "sql": rng.choice(UNSAFE_SQL).format(t=t, k=rng.randrange(10**5))}


class OpIds:
    """Sequential operation ids, unique within one plan."""

    def __init__(self):
        self.n = 0

    def __call__(self):
        self.n += 1
        return self.n


def _sql_unit(rng, ids):
    """One unit: every gate once, each followed by its share of the SQL
    requests, all in seeded order."""
    sql = [_request(rng, t) for t in DEMO_TABLES * REQUESTS_PER_TABLE]
    sql += [_unsafe(rng) for _ in range(UNSAFE_PER_UNIT)]
    rng.shuffle(sql)
    gates = list(SQL_GATES)
    rng.shuffle(gates)
    n = len(gates)
    unit = []
    for i, g in enumerate(gates):
        unit.append({"kind": "gate", "name": g})
        unit.extend(sql[i * len(sql) // n:(i + 1) * len(sql) // n])
    return [dict(o, id=ids()) for o in unit]


def _sql_interactive(rng, ids):
    # set-up runs the unit of a fixed seed, so it is the same work for
    # every seed and runs each gate and request kind before timing starts
    warm = _sql_unit(random.Random("sql-interactive/set-up"), ids)
    return [warm], [_sql_unit(rng, ids)]


def etl_cycle(variant, ids, scale=1.0):
    """The operations of one etl-store cycle for input variant
    `variant` (0 <= variant < ETL_VARIANTS). Set-up runs a cycle at a
    small `scale`: the same code paths on fewer rows."""
    rng = random.Random(f"etl-store/{variant}")

    def n(k):
        return max(4, int(k * scale))

    y, m = rng.randrange(1995, 2001), rng.randrange(1, 10)

    def month(k):
        yy, mm = y + (m - 1 + k) // 12, (m - 1 + k) % 12 + 1
        return f"{yy:04d}-{mm:02d}-01 00:00:00"

    qmin = rng.randrange(1, 10)

    def spec(mode, first, last):
        return {
            "sources": ["lineitem"],
            "conditions": [f"l_shipdate >= TIMESTAMP '{month(first)}'",
                           f"l_shipdate < TIMESTAMP '{month(last)}'"],
            "transform": [
                {"step": "null_default", "defaults": {"l_discount": "0.0"}},
                {"step": "type_validate", "column": "l_quantity",
                 "to": "int"},
                {"step": "filter", "predicate": f"l_quantity >= {qmin}"},
                {"step": "derive", "alias": "revenue",
                 "expr": "CAST(l_extendedprice * (1 - l_discount) "
                         "AS DECIMAL(18,2))"},
                {"step": "date_standardize", "column": "l_shipdate",
                 "format": "yyyy-MM-dd"},
                {"step": "derive", "alias": "ship_month",
                 "expr": "date_format(l_shipdate, 'yyyy-MM')"},
            ],
            "target": "lineitem_monthly", "mode": mode,
            "partition_by": ["ship_month"]}

    lo = rng.randrange(0, 12000)
    merge = {"lo": lo, "hi": lo + n(3000) - 1, "upd": rng.randrange(10),
             "del": rng.randrange(17), "ins": rng.randrange(25)}
    docs = list(range(5000))
    rng.shuffle(docs)
    nb, na = n(3500), n(500)
    text = {"kind": "text", "base": sorted(docs[:nb]),
            "append": sorted(docs[nb:nb + na]),
            "delete": sorted(rng.sample(docs[:nb], n(60))),
            "terms": rng.sample(WORDS, 3)}
    vecs = list(range(2000))
    rng.shuffle(vecs)
    nb, na = n(1500), n(250)
    deleted = sorted(rng.sample(vecs[:nb], n(50)))
    ivf = {"kind": "ivf", "base": sorted(vecs[:nb]),
           "append": sorted(vecs[nb:nb + na]), "delete": deleted,
           "queries": sorted(rng.sample(
               [v for v in vecs[:nb] if v not in set(deleted)], n(16)))}
    months = 3 if scale >= 1 else 1
    ops = [
        {"kind": "etl", "name": "etl_append",
         "etl": spec("append", 0, months)},
        {"kind": "etl", "name": "etl_overwrite",
         "etl": spec("overwrite", months - 1, months + 1)},
        {"kind": "etl", "name": "etl_merge", "merge": merge},
        {"kind": "etl", "name": "etl_compact", "table": "lineitem_monthly",
         "target_bytes": COMPACT_TARGET_BYTES},
    ]
    for store in (text, ivf):
        for step in ("build", "append", "delete", "search", "compact",
                     "vacuum", "fsck"):
            ops.append({"kind": "store", "name": f"{store['kind']}_{step}",
                        "store": store})
    for op in ops:
        op["id"] = ids()
        op["variant"] = variant
    return ops


def _etl_store(seed, ids):
    # set-up is the same for every seed: a small cycle of variant 0
    warm = [etl_cycle(0, ids, scale=0.05)]
    units = [etl_cycle((seed + i) % ETL_VARIANTS, ids)
             for i in range(ETL_CYCLES)]
    return warm, units


WORKLOADS = ("sql-interactive", "etl-store")


def plan(workload, seed):
    """The generated inputs of one run: {"warmup": [...], "units": [...]}."""
    ids = OpIds()
    rng = random.Random(f"{workload}/{seed}")
    if workload == "sql-interactive":
        warm, units = _sql_interactive(rng, ids)
    elif workload == "etl-store":
        warm, units = _etl_store(seed, ids)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return {"workload": workload, "warmup": warm, "units": units}
