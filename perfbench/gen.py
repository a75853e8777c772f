"""Seeded input generators for the three workloads.

Everything a run feeds the engine is made here: the tables, the op
sequences and the vectors. The same seed gives byte-identical inputs. The
tables (and `etl_tick`'s events) are one fixed data set, made from
DATA_SEED, as the repository's test data is one fixed data set; `--seed`
makes the op sequences, the `etl_tick` cut and the `news_knn` corpus. The
engine (the JVM side, `scala/`) reads only these files.

Table shapes follow the repository's synthetic test data (TPC-H-like star
schema plus `events`, `documents` and `embeddings`), so every query in the
dashboard pool runs unchanged against them.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# workload constants
# --------------------------------------------------------------------------

# The dashboard pool in Zipf rank order: page order of the reference's
# dashboard (close-price page, OHLC-signals page, sentiment page, ad hoc).
# Neither this order nor ZIPF_S comes from measured traffic; both are an
# assumption. Each run records the share of cpu_ms_per_op per query, so
# what the weights decide can be read off the record.
DASHBOARD_POOL = [
    "q_s3_last_point", "q_s4_range_scan", "q_s5_relative_scan",
    "q_s8_filter_limit", "q_p7_last_per_series", "q_x8_ohlcv_bars",
    "q_w1_sma", "q_w6_bbands", "q_g1_rsi_signal", "q_g2_bbands_signal",
    "q_g3_macd_signal", "q_r1_kalman", "q_w3_savgol", "q_e3_signal_overlay",
    "q_m1_bert_score", "q_t1_html_strip", "q_n6_bm25", "q_e2_news_pipeline",
    "q_j1b_star_join", "q_a7_rollup", "q_a8_percentiles", "q_j2_asof_join",
]
ZIPF_S = 1.0
DASHBOARD_BLOCK = 48     # ops per block of the fixed query mix
FRESH_EVERY = 4          # a quarter of the dashboard ops build a fresh lineage
REDELIVER_EVERY = 20     # one tick in each block of 20 re-drops an old hour
APPEND_EVERY = 10        # one op in each block of 10 is an index append
APPEND_BATCH = 55        # vectors per append: the reference's news window
NEWS_DIM = 64            # the test data's embedding width
NEWS_CLUSTERS = 48
# etl_tick's events span: the test data's hourly density over 90 days, so
# the hours after the day-23 cut outlast a timed loop even if a tick got
# ten times faster
ETL_DAYS = 90

# the seed of the fixed tables and events: a run's seed changes what the
# ops do to them, not the data, so seeds differ in the load alone
DATA_SEED = 20240101

T0_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86400 * 1_000_000
HOUR_US = 3600 * 1_000_000

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()


def _rng(seed, stream):
    """Independent, reproducible sub-stream per input family."""
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _days(rng, n, start, end):
    """Midnight timestamps (naive micros) uniform in [start, end] dates."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d * DAY_US, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


# --------------------------------------------------------------------------
# tables
# --------------------------------------------------------------------------

def events_arrays(seed, sf, days=30):
    """The `events` table as numpy columns: `1e6*sf` rows per 30 days over
    `days` days, `15000*sf` series (user_id), ts strictly increasing with
    event_id."""
    rng = _rng(seed, 7)
    n = int(1_000_000 * sf * days / 30)
    users = max(1, int(15_000 * sf))
    ts = np.sort(rng.choice(days * DAY_US, n, replace=False)) + T0_US
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts_us": ts.astype(np.int64),
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": rng.choice(
            ["signup", "purchase", "view", "click", "error"], n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def write_tables(seed, sf, out):
    """The ten dashboard tables at scale factor `sf` under `out/`."""
    os.makedirs(out, exist_ok=True)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out}/nation.parquet")

    r = _rng(seed, 1)
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], n_cust),
    }), f"{out}/customer.parquet")

    r = _rng(seed, 2)
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    }), f"{out}/supplier.parquet")

    r = _rng(seed, 3)
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    _write(pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": r.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"], n_part),
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10, 1),
    }), f"{out}/part.parquet")

    r = _rng(seed, 4)
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": r.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(r, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(r, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], n_ord),
    }), f"{out}/orders.parquet")

    r = _rng(seed, 5)
    _write(pa.table({
        "l_orderkey": r.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, n_line),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": r.choice(["A", "N", "R"], n_line),
        "l_linestatus": r.choice(["F", "O"], n_line),
        "l_shipdate": _days(r, n_line, "1995-01-02", "2001-11-04"),
    }), f"{out}/lineitem.parquet")

    ev = events_arrays(seed, sf)
    _write(pa.table({
        "event_id": ev["event_id"],
        "ts": pa.array(ev["ts_us"], pa.timestamp("us")),
        "user_id": ev["user_id"],
        "event_type": ev["event_type"],
        "value": ev["value"],
        "props": ev["props"],
    }), f"{out}/events.parquet")

    r = _rng(seed, 6)
    texts = []
    for i in range(n_docs):
        if i > 10 and r.random() < 0.05:
            # near-duplicate article: the reference's 25 h re-fetch overlap
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(r.choice(VOCAB, int(r.integers(10, 101)))))
    _write(pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": r.choice(["en", "en", "en", "zh", "es", "fr", "de"], n_docs),
        "source": [f"src{s}" for s in r.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), f"{out}/documents.parquet")

    r = _rng(seed, 8)
    labels = r.integers(0, 10, n_emb)
    centers = r.normal(size=(10, 64))
    v = centers[labels] + r.normal(scale=1.5, size=(n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    }), f"{out}/embeddings.parquet")


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------

def stratified(rng, n_ops, every):
    """A 0/1 flag per op with exactly one 1 in each block of `every`, at a
    seeded position: the share is fixed, only the placement varies."""
    flags = np.zeros(n_ops, dtype=np.int8)
    for b in range(0, n_ops, every):
        k = b + int(rng.integers(0, every))
        if k < n_ops:
            flags[k] = 1
    return flags


def _largest_remainder(weights, total, floor=0):
    """Integer counts summing to `total`, proportional to `weights`, each
    at least `floor`."""
    w = np.asarray(weights, dtype=float)
    raw = floor + w / w.sum() * (total - floor * len(w))
    counts = np.floor(raw).astype(int)
    for k in np.argsort(-(raw - counts))[:total - counts.sum()]:
        counts[k] += 1
    return counts


def dashboard_block():
    """The (query, fresh) multiset of one block of DASHBOARD_BLOCK ops:
    Zipf(ZIPF_S) query counts with every query at least once, and a
    1/FRESH_EVERY share of fresh lineages spread over the queries in the
    same proportions. Every whole block holds exactly this mix."""
    w = 1.0 / np.arange(1, len(DASHBOARD_POOL) + 1) ** ZIPF_S
    counts = _largest_remainder(w, DASHBOARD_BLOCK, floor=1)
    fresh = _largest_remainder(counts, DASHBOARD_BLOCK // FRESH_EVERY)
    fresh = np.minimum(fresh, counts)
    block = []
    for q, (c, f) in enumerate(zip(counts, fresh)):
        block += [(q, 1)] * int(f) + [(q, 0)] * int(c - f)
    return block, counts, fresh


def gen_dashboard(seed, sf, run_dir, n_ops):
    """Blocks of DASHBOARD_BLOCK ops, each the same (query, fresh) mix in a
    seeded order."""
    data = f"{run_dir}/data"
    write_tables(DATA_SEED, sf, data)
    rng = _rng(seed, 100)
    block, counts, fresh = dashboard_block()
    ops = []
    while len(ops) < n_ops:
        ops += [block[k] for k in rng.permutation(len(block))]
    ops = ops[:n_ops]
    with open(f"{run_dir}/ops.tsv", "w") as f:
        for q, fr in ops:
            f.write(f"{DASHBOARD_POOL[q]}\t{fr}\n")
    return {
        "sf": sf,
        "pool_weights": dict(zip(DASHBOARD_POOL,
                                 (counts / DASHBOARD_BLOCK).round(6).tolist())),
        "pool_fresh_per_block": dict(zip(DASHBOARD_POOL, fresh.tolist())),
        "zipf_s": ZIPF_S,
        "block_ops": DASHBOARD_BLOCK,
        "fresh_share": float(fresh.sum() / DASHBOARD_BLOCK),
        "memo_share": float(1 - fresh.sum() / DASHBOARD_BLOCK),
        "planned_ops": n_ops,
    }


def _tick_table(ev, idx):
    ts = ev["ts_us"][idx]
    return pa.table({
        "event_id": ev["event_id"][idx],
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "ts_ns": ts * 1000,
        "user_id": ev["user_id"][idx],
        "value": ev["value"][idx],
    })


def gen_etl(seed, sf, run_dir, n_ops):
    """Seed part (before a seeded cut near day 23) plus one parquet file per
    later hour the ops use; the op list replays those hours, one in 20
    re-dropping an already-processed hour."""
    ev = events_arrays(DATA_SEED, sf, ETL_DAYS)
    rng = _rng(seed, 200)
    cut_us = T0_US + int(rng.integers(22 * 24, 24 * 24)) * HOUR_US
    hour = (ev["ts_us"] - T0_US) // HOUR_US
    cut_h = (cut_us - T0_US) // HOUR_US
    _write(_tick_table(ev, np.nonzero(hour < cut_h)[0]),
           f"{run_dir}/seed.parquet")
    os.makedirs(f"{run_dir}/hours", exist_ok=True)
    hours = []
    for h in range(cut_h, ETL_DAYS * 24):
        if len(hours) == n_ops:
            break
        idx = np.arange(np.searchsorted(hour, h), np.searchsorted(hour, h, "right"))
        if len(idx):
            _write(_tick_table(ev, idx), f"{run_dir}/hours/h{h:04d}.parquet")
            hours.append((h, len(idx)))
    redeliver = stratified(rng, n_ops, REDELIVER_EVERY)
    ops, nxt = [], 0
    for i in range(n_ops):
        if redeliver[i] and nxt > 0:
            # an hour the stream has already processed, within the tail
            ops.append((hours[int(rng.integers(max(0, nxt - 48), nxt))][0], 1))
        elif nxt < len(hours):
            ops.append((hours[nxt][0], 0))
            nxt += 1
    with open(f"{run_dir}/ops.tsv", "w") as f:
        for h, red in ops:
            f.write(f"h{h:04d}\t{red}\n")
    return {
        "sf": sf,
        "series": int(ev["user_id"].max()) + 1,
        "events_total": int(len(ev["event_id"])),
        "cut_hour": int(cut_h),
        "seed_rows": int((hour < cut_h).sum()),
        "span_days": ETL_DAYS,
        "replay_hours": len(hours),
        "events_per_hour_mean": float(np.mean([n for _, n in hours])),
        "redelivery_share": float(np.mean([r for _, r in ops])),
        "planned_ops": len(ops),
    }


def news_vectors(rng, centers, n):
    lab = rng.integers(0, len(centers), n)
    v = centers[lab] + rng.normal(scale=0.45, size=(n, centers.shape[1]))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def gen_news(seed, n_corpus, run_dir, n_ops):
    """A clustered corpus, the search vectors (a perturbed corpus member
    each) and one 55-vector append batch per tenth op, ids ascending."""
    rng = _rng(seed, 300)
    centers = rng.normal(size=(NEWS_CLUSTERS, NEWS_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    corpus = news_vectors(rng, centers, n_corpus)
    appends = stratified(rng, n_ops, APPEND_EVERY)
    n_app = int(appends.sum())
    extra = news_vectors(rng, centers, n_app * APPEND_BATCH)
    every = np.concatenate([corpus, extra])
    ops, queries, n_done = [], [], 0
    for i in range(n_ops):
        if appends[i]:
            ops.append(("append", n_done))
            n_done += 1
        else:
            # near a vector that exists at this op
            live = n_corpus + n_done * APPEND_BATCH
            base = every[int(rng.integers(0, live))]
            q = base + rng.normal(scale=0.05, size=NEWS_DIM)
            queries.append(q / np.linalg.norm(q))
            ops.append(("search", len(queries) - 1))
    _write(pa.table({
        "vec_id": np.arange(n_corpus, dtype=np.int64),
        "embedding": pa.array(list(corpus), pa.list_(pa.float32())),
    }), f"{run_dir}/corpus.parquet")
    _write(pa.table({
        "batch": np.repeat(np.arange(n_app, dtype=np.int32), APPEND_BATCH),
        "vec_id": np.arange(n_corpus, n_corpus + len(extra), dtype=np.int64),
        "embedding": pa.array(list(extra), pa.list_(pa.float32())),
    }), f"{run_dir}/appends.parquet")
    _write(pa.table({
        "qid": np.arange(len(queries), dtype=np.int64),
        "vec": pa.array([q.tolist() for q in queries], pa.list_(pa.float64())),
    }), f"{run_dir}/queries.parquet")
    with open(f"{run_dir}/ops.tsv", "w") as f:
        for kind, arg in ops:
            f.write(f"{kind}\t{arg}\n")
    np.save(f"{run_dir}/vectors.npy", every)
    np.save(f"{run_dir}/queries.npy", np.array(queries))
    return {
        "corpus_size": n_corpus,
        "dim": NEWS_DIM,
        "clusters": NEWS_CLUSTERS,
        "append_batch": APPEND_BATCH,
        "append_share": float(appends.mean()),
        "planned_ops": n_ops,
    }


def generate(workload, seed, run_dir, size):
    """Writes the run's inputs under `run_dir` and returns the properties
    the seed produced (recorded with the run's metrics)."""
    os.makedirs(run_dir, exist_ok=True)
    if workload == "dashboard_mix":
        props = gen_dashboard(seed, size["sf"], run_dir, size["ops"])
    elif workload == "etl_tick":
        props = gen_etl(seed, size["sf"], run_dir, size["ops"])
    elif workload == "news_knn":
        props = gen_news(seed, size["corpus"], run_dir, size["ops"])
    else:
        raise ValueError(f"unknown workload {workload}")
    props["seed"] = seed
    with open(f"{run_dir}/inputs.json", "w") as f:
        json.dump(props, f)
    return props
