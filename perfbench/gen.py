"""Input generation for the caller-latency benchmark.

Two kinds of input, both deterministic:

* The tables (`write_tables`): a TPC-H-shaped star schema plus the events,
  documents and embeddings tables, with the column names and types the
  engine's catalog expects. They come from a fixed data seed, so every run
  measures the same data; `--seed` never changes them.
* The operations (`plan_ops`): which operation runs when, the parameters
  of every ClickHouse-dialect query text and the slicing of the events
  table into ingest batches. These come from `--seed`.
"""
import datetime
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
DATA_VERSION = "v1"

# Table sizes: TPC-H scale factor 0.01 plus the pipeline tables at the
# sizes the engine's own test data uses at that scale.
N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS = 1500, 100, 2000, 15000
N_EVENTS, N_USERS, N_DOCS, N_VECS, DIM = 10000, 150, 500, 500, 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()

RELATIONAL = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
    "q6_forecast_revenue", "q10_returned_items", "q11_important_stock",
    "agg_rollup", "agg_multi_distinct", "agg_quantiles",
    "win_topn_per_group", "win_running_total"]
PIPELINE = [
    "sessionize_stats", "funnel_signup_click_purchase", "asof_purchase_click",
    "event_tumbling_counts", "bitmap_user_overlap", "topk_users_by_events",
    "upsert_latest_state", "summap_user_values", "session_analysis_tuples",
    "dedup_keep_first", "minhash_lsh_candidates", "jaccard_token_pairs",
    "knn_bruteforce_cosine", "knn_lsh_topk", "knn_ivf_topk"]
INGEST_STEPS = ["sink", "mv_refresh", "read"]

# Ingest: the events table arrives in this many ts-ordered slices per pass;
# each slice also replays a share of already-seen events, which the
# dedupStream transform must drop.
INGEST_SLICES = 5
WATERMARK_S = 3600

# The workloads of BENCHMARK.json, then two more that run the same way but
# are left out of it: a run of the benchmark may take about a minute, and
# a JVM's cold start leaves room for two workloads (see README.md).
WORKLOADS = ("olap_relational", "ingest_refresh", "sql_frontdoor",
             "pipeline_operators")


def _days(d0, d1, n, rng):
    """n random midnight timestamps in [d0, d1]."""
    base = np.datetime64(d0, "us")
    span = (np.datetime64(d1) - np.datetime64(d0)).astype(int)
    days = rng.integers(0, span + 1, n)
    return base + days.astype("timedelta64[D]").astype("timedelta64[us]")


def _money(lo, hi, n, rng):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def tables():
    """Every table as a pyarrow Table, from the fixed data seed."""
    rng = np.random.default_rng(DATA_SEED)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": _money(-999.99, 9999.99, N_CUSTOMER, rng),
        "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMER).tolist()})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": _money(-999.99, 9999.99, N_SUPPLIER, rng)})
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    out["part"] = pa.table({
        "p_partkey": pa.array(range(N_PART), pa.int64()),
        "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(N_PART)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": rng.choice(PART_TYPES, N_PART).tolist(),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(N_PART) % 1000) / 10.0, 1)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS).tolist(),
        "o_totalprice": _money(1000, 500000, N_ORDERS, rng),
        "o_orderdate": _days("1995-01-01", "2001-08-01", N_ORDERS, rng),
        "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS).tolist()})
    lines = rng.integers(1, 8, N_ORDERS)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(N_ORDERS), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, n_li).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(900, 2100, n_li, rng), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": _days("1995-01-02", "2001-11-04", n_li, rng)})
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, N_EVENTS))
    out["events"] = pa.table({
        "event_id": pa.array(range(N_EVENTS), pa.int64()),
        "ts": t0 + offs.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, N_EVENTS).tolist(),
        "value": _money(0.01, 490.02, N_EVENTS, rng),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]})
    texts = []
    for i in range(N_DOCS):
        if i >= 10 and rng.random() < 0.05:      # exact duplicates for dedup
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    out["documents"] = pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": rng.choice(["de", "en", "es", "fr", "zh"], N_DOCS).tolist(),
        "source": [f"src{s}" for s in rng.integers(0, 20, N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    centers = rng.normal(size=(10, DIM))
    labels = rng.integers(0, 10, N_VECS)
    vecs = centers[labels] * 0.5 + rng.normal(size=(N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write_tables(data_dir):
    """Write every table as one single-row-group parquet file, the layout
    of the engine's test data. Idempotent: a finished directory carries a
    stamp and is reused."""
    stamp = os.path.join(data_dir, f".complete-{DATA_VERSION}")
    if os.path.exists(stamp):
        return
    os.makedirs(data_dir, exist_ok=True)
    for name, tbl in tables().items():
        pq.write_table(tbl, os.path.join(data_dir, f"{name}.parquet"),
                       row_group_size=max(1, tbl.num_rows))
    open(stamp, "w").close()


# --- operations -------------------------------------------------------------

def _ch_templates(rng):
    """One seeded ClickHouse-dialect query per template, paired with its
    DuckDB twin. Every output column is an integer, a string or a date, and
    every ORDER BY is total, so both engines agree row for row."""
    st = rng.choice(["F", "O", "P"])
    p = rng.randrange(1000, 400000, 500)
    d = rng.choice([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
    day = f"{rng.randrange(1995, 2002)}-{rng.randrange(1, 13):02d}-01"
    seg = rng.choice(SEGMENTS)
    bal = rng.randrange(-900, 9000, 50)
    k = rng.randrange(3, 26)
    u = rng.randrange(10, N_USERS)
    ptype = rng.choice(PART_TYPES)
    lo = rng.randrange(1, 40)
    hi = lo + rng.randrange(1, 11)
    q = rng.randrange(5, 50)
    v = rng.randrange(1, 480)
    reg = rng.choice(REGIONS)
    return {
        "orders_by_year": (
            f"SELECT toYear(o_orderdate) AS y, count() AS n, "
            f"uniqExact(o_custkey) AS u FROM orders WHERE o_orderstatus = "
            f"'{st}' AND o_totalprice > {p} GROUP BY y ORDER BY y",
            f"SELECT CAST(year(o_orderdate) AS INTEGER) AS y, count(*) AS n, "
            f"count(DISTINCT o_custkey) AS u FROM orders WHERE o_orderstatus = "
            f"'{st}' AND o_totalprice > {p} GROUP BY y ORDER BY y"),
        "lineitem_flags": (
            f"SELECT l_returnflag, l_linestatus, countIf(l_discount > "
            f"{d / 100:.2f}) AS c, toInt64(sum(l_quantity)) AS q FROM lineitem "
            f"WHERE l_shipdate < toDate('{day}') GROUP BY l_returnflag, "
            f"l_linestatus ORDER BY l_returnflag, l_linestatus",
            f"SELECT l_returnflag, l_linestatus, count(*) FILTER (WHERE "
            f"l_discount > {d / 100:.2f}) AS c, CAST(sum(l_quantity) AS BIGINT) "
            f"AS q FROM lineitem WHERE l_shipdate < DATE '{day}' GROUP BY "
            f"l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
        "segment_nations": (
            f"SELECT n_name, count() AS n FROM customer JOIN nation ON "
            f"c_nationkey = n_nationkey WHERE c_mktsegment = '{seg}' AND "
            f"c_acctbal > {bal} GROUP BY n_name ORDER BY n DESC, n_name "
            f"LIMIT {k}",
            f"SELECT n_name, count(*) AS n FROM customer JOIN nation ON "
            f"c_nationkey = n_nationkey WHERE c_mktsegment = '{seg}' AND "
            f"c_acctbal > {bal} GROUP BY n_name ORDER BY n DESC, n_name "
            f"LIMIT {k}"),
        "events_daily": (
            f"SELECT event_type, toDate(ts) AS d, count() AS n FROM events "
            f"WHERE user_id < {u} GROUP BY event_type, d ORDER BY d, "
            f"event_type LIMIT {k * 4}",
            f"SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n FROM "
            f"events WHERE user_id < {u} GROUP BY event_type, d ORDER BY d, "
            f"event_type LIMIT {k * 4}"),
        "part_brands": (
            f"SELECT p_brand, count() AS n, min(p_size) AS mn, max(p_size) "
            f"AS mx FROM part WHERE p_type = '{ptype}' AND p_size BETWEEN "
            f"{lo} AND {hi} GROUP BY p_brand ORDER BY p_brand",
            f"SELECT p_brand, count(*) AS n, min(p_size) AS mn, max(p_size) "
            f"AS mx FROM part WHERE p_type = '{ptype}' AND p_size BETWEEN "
            f"{lo} AND {hi} GROUP BY p_brand ORDER BY p_brand"),
        "order_priority": (
            f"SELECT o_orderpriority, count() AS n FROM orders WHERE "
            f"o_orderdate >= toDate('{day}') AND o_orderdate < "
            f"addMonths(toDate('{day}'), 3) AND o_orderkey IN (SELECT "
            f"l_orderkey FROM lineitem WHERE l_quantity > {q}) GROUP BY "
            f"o_orderpriority ORDER BY o_orderpriority",
            f"SELECT o_orderpriority, count(*) AS n FROM orders WHERE "
            f"o_orderdate >= DATE '{day}' AND o_orderdate < DATE '{day}' + "
            f"INTERVAL 3 MONTH AND o_orderkey IN (SELECT l_orderkey FROM "
            f"lineitem WHERE l_quantity > {q}) GROUP BY o_orderpriority "
            f"ORDER BY o_orderpriority"),
        "user_purchases": (
            f"SELECT user_id, uniqExact(event_type) AS k, countIf(event_type "
            f"= 'purchase') AS p FROM events WHERE value > {v} GROUP BY "
            f"user_id ORDER BY p DESC, user_id LIMIT {k}",
            f"SELECT user_id, count(DISTINCT event_type) AS k, count(*) "
            f"FILTER (WHERE event_type = 'purchase') AS p FROM events WHERE "
            f"value > {v} GROUP BY user_id ORDER BY p DESC, user_id LIMIT {k}"),
        "region_orders": (
            f"SELECT n_name, count() AS n, uniqExact(c_custkey) AS c FROM "
            f"orders JOIN customer ON o_custkey = c_custkey JOIN nation ON "
            f"c_nationkey = n_nationkey JOIN region ON n_regionkey = "
            f"r_regionkey WHERE r_name = '{reg}' AND o_orderdate >= "
            f"toDate('{day}') GROUP BY n_name ORDER BY n_name",
            f"SELECT n_name, count(*) AS n, count(DISTINCT c_custkey) AS c "
            f"FROM orders JOIN customer ON o_custkey = c_custkey JOIN nation "
            f"ON c_nationkey = n_nationkey JOIN region ON n_regionkey = "
            f"r_regionkey WHERE r_name = '{reg}' AND o_orderdate >= DATE "
            f"'{day}' GROUP BY n_name ORDER BY n_name"),
    }


SQL_TEMPLATES = sorted(_ch_templates(random.Random(0)))


def _sql_ops(rng, seen, templates):
    """One fresh operation per entry of `templates`; no text in `seen` is
    produced again."""
    ops = []
    for t in templates:
        ch, duck = _ch_templates(rng)[t]
        while ch in seen:
            ch, duck = _ch_templates(rng)[t]
        seen.add(ch)
        ops.append({"type": t, "ch": ch, "duck": duck})
    return ops


def slice_events(events, rng, n_slices=INGEST_SLICES, dup_share=0.1):
    """Cut the ts-ordered events into n_slices consecutive batches of
    seeded sizes. Each batch also replays a seeded share of events: copies
    from the batch itself or from the last half watermark of the previous
    batch, so every replay is newer than the watermark and must be dropped
    as a duplicate, never as late data. Returns (rows, n_originals) per
    batch, rows being event dicts in ts order. Batch sizes are the even
    share of the events, give or take a seeded fifth."""
    n, step = len(events), len(events) / n_slices
    jitter = int(step * 0.2)
    cuts = [round(step * k) + rng.randint(-jitter, jitter)
            for k in range(1, n_slices)]
    bounds = list(zip([0] + cuts, cuts + [n]))
    half = datetime.timedelta(seconds=WATERMARK_S // 2)
    slices = []
    for lo, hi in bounds:
        first = lo
        while first > 0 and events[first - 1]["ts"] >= events[lo - 1]["ts"] - half:
            first -= 1
        pool = range(first, hi)
        k = min(len(pool), int((hi - lo) * dup_share))
        rows = list(events[lo:hi]) + [dict(events[i]) for i in rng.sample(pool, k)]
        rows.sort(key=lambda r: r["ts"])
        slices.append((rows, hi - lo))
    return slices


def plan_ops(workload, seed, n_passes=40, events=None):
    """The seeded operations of one run, as a dict:

    * `setup`: the operation each of the run's three set-ups runs after
      building its session, always of the workload's first type;
    * `warm`: every operation type once, in the workload's fixed order;
    * `passes`: `n_passes` timed passes, each holding every operation type
      once, in one seeded order (sql_frontdoor: a seeded order per pass);
    * `slices` (ingest_refresh only): the seeded slicing of `events`
      (default: the events table; see slice_events)."""
    rng = random.Random(f"{workload}:{seed}")
    plan = {}
    if workload == "sql_frontdoor":
        seen = set()
        plan["setup"] = _sql_ops(rng, seen, [SQL_TEMPLATES[0]] * 3)
        plan["warm"] = _sql_ops(rng, seen, SQL_TEMPLATES)
        plan["passes"] = [_sql_ops(rng, seen, rng.sample(SQL_TEMPLATES, len(SQL_TEMPLATES)))
                          for _ in range(n_passes)]
    elif workload == "ingest_refresh":
        if events is None:
            events = tables()["events"].to_pylist()
        plan["slices"] = slice_events(events, rng)
        cycles = [{"type": "cycle", "slice": i} for i in range(len(plan["slices"]))]
        plan["setup"] = cycles[:1] * 3
        plan["warm"] = cycles
        plan["passes"] = [cycles] * n_passes
    else:
        types = RELATIONAL if workload == "olap_relational" else PIPELINE
        plan["setup"] = [{"type": types[0]}] * 3
        plan["warm"] = [{"type": t} for t in types]
        # One seeded order for every pass. The engine's session keeps 100
        # compiled codegen classes and a pass compiles about twice that
        # many, so with the same order each type finds its classes evicted,
        # whatever the seed. An order drawn anew per pass would instead let
        # a type that ends one pass and starts the next hit the cache, and
        # which types do so would depend on the seed.
        order = rng.sample(types, len(types))
        plan["passes"] = [[{"type": t} for t in order] for _ in range(n_passes)]
    return plan
