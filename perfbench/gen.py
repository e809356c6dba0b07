"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed: the same seed gives
byte-identical files and identical expected counts.

* `write_tables` writes the ten catalog tables (TPC-H-ish star schema,
  `events`, `documents`, `embeddings`) as parquet, at the row counts and
  value distributions of the project's sf0.01 test data.
* `write_cdc` writes seeded CDC snapshots of `orders` as CSV arrival
  folders, each carrying updates, inserts and deletes plus injected
  primary-key, foreign-key and emoji violations, and derives what the
  loop must end with after every cycle.
* `serve_requests` draws the seeded request mix for the HTTP workload.
"""
import csv
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# row counts of the sf0.01 test tables
SIZES = {
    "region": 5, "nation": 25, "customer": 1500, "supplier": 100,
    "part": 2000, "orders": 15000, "lineitem": 60000, "events": 10000,
    "documents": 500, "embeddings": 500,
}
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
EMOJI = "\U0001F600"
US_PER_DAY = 86_400_000_000


def _days(start: str, n_days: int, rng, size) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days + 1, size)).astype("datetime64[us]")


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def write_tables(seed: int, out_dir: str) -> None:
    """Write the ten catalog tables as `<out_dir>/<name>.parquet`."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n = SIZES

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out_dir}/nation.parquet")

    c = n["customer"]
    _write(pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, c), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], c),
    }), f"{out_dir}/customer.parquet")

    s = n["supplier"]
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, s), 2),
    }), f"{out_dir}/supplier.parquet")

    p = n["part"]
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    _write(pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                              "SMALL", "STANDARD"], p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": [900 + (i % 1000) / 10 for i in range(p)],
    }), f"{out_dir}/part.parquet")

    o = n["orders"]
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": np.round(rng.uniform(1000, 500000, o), 2),
        "o_orderdate": pa.array(_days("1995-01-01", 2404, rng, o),
                                pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], o),
    }), f"{out_dir}/orders.parquet")

    li = n["lineitem"]
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, li), 2),
        "l_discount": rng.integers(0, 11, li) / 100,
        "l_tax": rng.integers(0, 9, li) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": pa.array(_days("1995-01-02", 2498, rng, li),
                               pa.timestamp("us")),
    }), f"{out_dir}/lineitem.parquet")

    e = n["events"]
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, e))
    _write(pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts,
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, e), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], e),
        "value": np.maximum(np.round(rng.exponential(50, e), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    }), f"{out_dir}/events.parquet")

    d = n["documents"]
    texts = []
    for i in range(d):
        if i > 0 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))))
    _write(pa.table({
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "fr", "de"], d,
                           p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{out_dir}/documents.parquet")

    m = n["embeddings"]
    labels = rng.integers(0, 10, m)
    centers = rng.normal(0, 0.5, (10, 64))
    vecs = rng.normal(0, 1, (m, 64)) + centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), f"{out_dir}/embeddings.parquet")


# ---- CDC snapshots -----------------------------------------------------

ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
              "o_orderdate", "o_orderpriority"]
RULES = ["primary_key", "foreign_key", "column_types", "null_census", "emoji"]
# per-cycle change volume, as shares of the live table: the change mix of
# the repository's merge soak (`graft.MergeSoak`, BASELINE.md "Merge/SCD2
# soak"): 5 % changed payloads, 2 % live deletes, 2 % inserts. Keys
# deleted in earlier cycles stay absent, which gives the soak's
# already-tombstoned absentees.
UPDATE_SHARE, DELETE_SHARE, INSERT_SHARE = 0.05, 0.02, 0.02
# per-cycle injected violations. No source gives these counts: they are an
# unverified assumption, small enough to keep the clean batch near the
# snapshot and large enough for every rule to fire in every cycle.
NULL_PK, DUP_PK, DANGLING_FK, NULL_FK, EMOJI_ROWS = 3, 5, 4, 2, 3


STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _order_rows(keys, rng, n_customers) -> list:
    """One CSV row (as a list) per key, drawn in bulk."""
    n = len(keys)
    days = np.datetime64("1995-01-01") + rng.integers(0, 2405, n)
    hours, minutes = rng.integers(0, 24, n), rng.integers(0, 60, n)
    return [[k, int(c), STATUSES[s], f"{p:.2f}", f"{d} {h:02d}:{m:02d}:00",
             PRIORITIES[q]]
            for k, c, s, p, d, h, m, q in zip(
                keys, rng.integers(0, n_customers, n), rng.integers(0, 3, n),
                rng.uniform(1000, 500000, n), days, hours, minutes,
                rng.integers(0, 5, n))]


def _write_csv(path, rows):
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f)
        w.writerow(ORDER_COLS)
        # `nan` is the reference's null token (CsvIngest reads it as null)
        w.writerows([["nan" if v is None else v for v in r] for r in rows])


def write_cdc(seed: int, out_dir: str, cycles: int,
              n_orders: int = SIZES["orders"],
              n_customers: int = SIZES["customer"]) -> list:
    """Write `<out_dir>/base/orders.csv` (the seed state) and
    `<out_dir>/cycle_NNN/orders.csv` for each cycle. Returns, per cycle,
    the counts the loop must reach after running cycles 1..i:
    cumulative per-rule violations, rows in and clean, and the state's
    live, tombstoned and history row counts."""
    rng = np.random.default_rng([seed, 2])
    truth = {r[0]: r for r in _order_rows(range(n_orders), rng, n_customers)}
    next_key = n_orders
    os.makedirs(f"{out_dir}/base", exist_ok=True)
    _write_csv(f"{out_dir}/base/orders.csv", list(truth.values()))

    tombstoned = history = 0
    totals = {r: 0 for r in RULES}
    rows_in = rows_clean = 0
    expected = []
    for i in range(1, cycles + 1):
        keys = np.array(sorted(truth))
        picks = rng.permutation(keys)
        n_upd = int(len(keys) * UPDATE_SHARE)
        n_del = int(len(keys) * DELETE_SHARE)
        updated = picks[:n_upd]
        deleted = picks[n_upd:n_upd + n_del]
        emoji_hit = [k for k in picks[n_upd + n_del:]
                     if EMOJI not in truth[k][5]][:EMOJI_ROWS]
        for k in updated:
            row = truth[k]
            row[3] = f"{float(row[3]) + 1 + rng.integers(0, 1000) / 100:.2f}"
            row[2] = STATUSES[int(rng.integers(0, 3))]
        for k in emoji_hit:
            truth[k][5] = truth[k][5] + " " + EMOJI
        for k in deleted:
            del truth[k]
        n_ins = int(len(keys) * INSERT_SHARE)
        for row in _order_rows(range(next_key, next_key + n_ins), rng,
                               n_customers):
            truth[row[0]] = row
        next_key += n_ins
        for row in _order_rows(range(next_key, next_key + NULL_FK), rng,
                               n_customers):  # kept (reported) and merged
            row[1] = None
            truth[row[0]] = row
        next_key += NULL_FK
        rows = [list(r) for r in truth.values()]
        bad = _order_rows([None] * NULL_PK, rng, n_customers)
        dup_keys = rng.choice(keys[np.isin(keys, list(truth))], DUP_PK,
                              replace=False)
        bad += [list(truth[int(k)]) for k in dup_keys]
        for j, row in enumerate(_order_rows(
                range(next_key, next_key + DANGLING_FK), rng, n_customers)):
            row[1] = n_customers + 1000 + j  # rejected: no such parent
            bad.append(row)
        next_key += DANGLING_FK
        rows += bad
        order = rng.permutation(len(rows))
        d = f"{out_dir}/cycle_{i:03d}"
        os.makedirs(d, exist_ok=True)
        _write_csv(f"{d}/orders.csv", [rows[j] for j in order])

        null_fk_rows = sum(1 for r in truth.values() if r[1] is None)
        totals["primary_key"] += NULL_PK + DUP_PK
        totals["foreign_key"] += null_fk_rows + DANGLING_FK
        totals["null_census"] += 1 if null_fk_rows else 0
        totals["emoji"] += sum(1 for r in truth.values() if EMOJI in r[5])
        rows_in += len(rows)
        rows_clean += len(truth)
        tombstoned += len(deleted)
        history += len(updated) + len(emoji_hit) + len(deleted)
        expected.append({
            "violations": dict(totals), "rows_in": rows_in,
            "rows_clean": rows_clean, "live": len(truth),
            "tombstoned": tombstoned, "history": history,
            "cycle_rows": len(rows),
        })
    return expected


# ---- serving -------------------------------------------------------------

ROUTES = ["customers", "search", "similar", "quality"]


def serve_requests(seed: int, n: int, n_docs: int = SIZES["documents"],
                   n_vecs: int = SIZES["embeddings"]) -> list:
    """The seeded request mix: `n` request paths. Every block of four
    holds each route once, in seeded order, so any window of requests
    carries the same route mix whatever the seed. No traffic record
    gives the routes' shares: the equal shares are an unverified
    assumption."""
    rng = np.random.default_rng([seed, 3])
    out = []
    routes = [r for _ in range(-(-n // len(ROUTES)))
              for r in rng.permutation(ROUTES)]
    for route in routes[:n]:
        if route == "customers":
            out.append("/customers")
        elif route == "search":
            out.append("/search?k=10&q=" + "%20".join(rng.choice(VOCAB, 2)))
        elif route == "similar":
            out.append(f"/similar?k=10&id={int(rng.integers(0, n_vecs))}")
        else:
            out.append("/quality?text=" +
                       "%20".join(rng.choice(VOCAB, int(rng.integers(5, 30)))))
    return out


def write_all(seed: int, workload: str, work: str, cycles: int,
              requests: int) -> dict:
    """Generate everything `workload` reads under `work`; return what the
    checks expect of it."""
    write_tables(seed, f"{work}/data")
    exp = {}
    if workload == "cdc_loop":
        exp["cdc"] = write_cdc(seed, f"{work}/cdc", cycles)
    if workload == "serve_mix":
        with open(f"{work}/requests.txt", "w") as f:
            f.write("\n".join(serve_requests(seed, requests)) + "\n")
        # the main.py shape: one CSV re-read per /customers request
        t = pq.read_table(f"{work}/data/customer.parquet")
        with open(f"{work}/data/customers.csv", "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(t.column_names)
            w.writerows(zip(*[t.column(c).to_pylist() for c in t.column_names]))
    return exp
