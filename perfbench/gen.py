"""Seeded input generator for the benchmark.

Everything the program under test reads is made here from one integer
seed: the same seed gives byte-identical files, another seed gives
different ones (tests/test_gen.py checks both). Three input sets:

* ``tables``    -- the ten fixture tables the engine's query builders read
                   (``region`` ... ``embeddings``), with the schemas, value
                   domains and sf0.01 row counts of the repository's
                   TPC-H-ish fixtures.
* ``lifecycle`` -- a keyed ``lineitem``-shaped table delivered as dated CSV
                   generations. Each generation updates, inserts and deletes
                   a fixed number of rows of the one before and carries a few
                   malformed rows that coercion must reject. ``expected.json``
                   holds the generator's per-generation change counts.
* ``dml``       -- a base table plus a stream of small SQL statements
                   (MERGE / UPDATE / DELETE, each touching ~0.1% of rows, keys
                   skewed to a hot set) interleaved with point reads. The
                   generator applies the stream to its own model and writes
                   the final table and every point read's expected answer.

Usage: python3 gen.py <tables|lifecycle|dml> <seed> <out_dir>
"""
import datetime as dt
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.csv as pcsv
import pyarrow.parquet as pq

# Fixture scale of the query tables: sf0.01 row counts. On a 4-vCPU host a
# pass over all entries is dominated by per-query planning and job
# scheduling, not by bytes, so a larger scale mostly lengthens runs.
SF = 0.01

# lifecycle: rows per generation, generations per episode, per-generation mix
LC_ROWS = 20_000
LC_GENERATIONS = 2
LC_UPDATES = 400
LC_INSERTS = 200
LC_DELETES = 200
LC_BAD = 10

# dml: base rows, statements per episode, point reads after each statement
DML_ROWS = 100_000
DML_STATEMENTS = 9
DML_READS_PER_STMT = 1
DML_TOUCH = DML_ROWS // 1000          # rows a statement touches (~0.1%)
DML_HOT = DML_ROWS // 100             # hot key set (1% of keys) ...
DML_HOT_SHARE = 0.8                   # ... takes 80% of key draws

EPOCH = dt.datetime(1970, 1, 1)


def _rng(seed, stream):
    return np.random.Generator(np.random.PCG64([int(seed), stream]))


def _write_parquet(table, path):
    pq.write_table(table, path, compression="snappy")


def _days(lo, hi, n, rng):
    """n random midnight timestamps in [lo, hi] as microseconds."""
    d0 = (dt.datetime.fromisoformat(lo) - EPOCH).days
    d1 = (dt.datetime.fromisoformat(hi) - EPOCH).days
    return rng.integers(d0, d1 + 1, n).astype(np.int64) * 86_400_000_000


def _pick(values, n, rng, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


# ----------------------------------------------------------------- tables

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()


def gen_tables(seed, out):
    rng = _rng(seed, 1)
    n_cust, n_supp = int(150_000 * SF), int(10_000 * SF)
    n_part, n_ord = int(200_000 * SF), int(1_500_000 * SF)
    n_line, n_evt = int(6_000_000 * SF), int(1_000_000 * SF)
    n_doc, n_emb = 500, 500
    ts = pa.timestamp("us")

    _write_parquet(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS}), f"{out}/region.parquet")
    _write_parquet(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet")
    _write_parquet(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": _pick(SEGMENTS, n_cust, rng)}),
        f"{out}/customer.parquet")
    _write_parquet(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
        f"{out}/supplier.parquet")
    pk = np.arange(n_part)
    _write_parquet(pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(_pick(PART_ADJ, n_part, rng),
                                              _pick(PART_NOUN, n_part, rng))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": _pick(PART_TYPES, n_part, rng),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1)}),
        f"{out}/part.parquet")
    _write_parquet(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(["F", "O", "P"], n_ord, rng),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": pa.array(_days("1995-01-01", "2001-08-01", n_ord, rng), ts),
        "o_orderpriority": _pick(PRIORITIES, n_ord, rng)}),
        f"{out}/orders.parquet")
    # lineitem is drawn as the repository's fixtures are: l_orderkey uniform
    # over the orders and l_linenumber uniform over 1..7, independently. On
    # the sf0.01 fixture 23.6% of rows repeat an (orderkey, linenumber) pair,
    # the orders that have lines have 4.07 of them on average (variance
    # 3.72, Poisson-like) and 1.7% of orders have none; tests/test_gen.py
    # holds generated tables to these figures.
    _write_parquet(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(["A", "N", "R"], n_line, rng),
        "l_linestatus": _pick(["F", "O"], n_line, rng),
        "l_shipdate": pa.array(_days("1995-01-02", "2001-11-04", n_line, rng), ts)}),
        f"{out}/lineitem.parquet")
    t0 = (dt.datetime(2024, 1, 1) - EPOCH).days * 86_400_000_000
    evt_ts = np.sort(t0 + rng.integers(0, 30 * 86_400_000_000, n_evt))
    _write_parquet(pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(evt_ts, ts),
        "user_id": pa.array(rng.integers(0, 1500, n_evt), pa.int64()),
        "event_type": _pick(EVENT_TYPES, n_evt, rng),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]}),
        f"{out}/events.parquet")
    texts = [" ".join(_pick(VOCAB, int(k), rng))
             for k in rng.integers(10, 101, n_doc)]
    _write_parquet(pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": _pick(LANGS, n_doc, rng, p=[0.15, 0.4, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out}/documents.parquet")
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    # plant near-duplicates (5% of vectors: a perturbed copy of another
    # vector), as real embedding corpora have, so the dedup entries find
    # pairs instead of timing an empty result
    dup = rng.choice(n_emb, n_emb // 10, replace=False)
    src, dst = dup[: len(dup) // 2], dup[len(dup) // 2:]
    vec[dst] = vec[src] + 0.1 * rng.standard_normal((len(dst), 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write_parquet(pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())}),
        f"{out}/embeddings.parquet")


# -------------------------------------------------------------- lifecycle

LC_COLUMNS = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
              "l_quantity", "l_extendedprice", "l_discount", "l_tax",
              "l_returnflag", "l_linestatus", "l_shipdate"]


def _lc_rows(keys, rng):
    """Fresh non-key values for the (orderkey, linenumber) pairs in keys."""
    n = len(keys)
    ship = _days("1995-01-02", "2001-11-04", n, rng) // 86_400_000_000
    return {
        "l_orderkey": keys[:, 0], "l_linenumber": keys[:, 1],
        "l_partkey": rng.integers(0, 20_000, n),
        "l_suppkey": rng.integers(0, 1_000, n),
        "l_quantity": rng.integers(1, 51, n).astype(np.int64),
        "l_extendedprice": rng.integers(90_000, 10_500_000, n),  # cents
        "l_discount": rng.integers(0, 11, n),                    # percent
        "l_tax": rng.integers(0, 9, n),                          # percent
        "l_returnflag": rng.integers(0, 3, n),
        "l_linestatus": rng.integers(0, 2, n),
        "l_shipdate": ship,
    }


def _lc_frame_to_csv(cols, bad_keys, rng, path):
    """One dated export: every column a string, as the source system
    writes it (flags in mixed case with padding, money with two decimals),
    plus malformed rows whose quantity does not parse."""
    n = len(cols["l_orderkey"])
    flag = np.array(["A", "N", "R"], dtype=object)[cols["l_returnflag"]]
    lower = rng.random(n) < 0.3
    flag[lower] = [f" {f.lower()} " for f in flag[lower]]
    days = cols["l_shipdate"]
    out = {
        "l_orderkey": [str(v) for v in cols["l_orderkey"]],
        "l_linenumber": [str(v) for v in cols["l_linenumber"]],
        "l_partkey": [str(v) for v in cols["l_partkey"]],
        "l_suppkey": [str(v) for v in cols["l_suppkey"]],
        "l_quantity": [str(v) for v in cols["l_quantity"]],
        "l_extendedprice": [f"{v // 100}.{v % 100:02d}" for v in cols["l_extendedprice"]],
        "l_discount": [f"0.{v:02d}" if v < 10 else "0.10" for v in cols["l_discount"]],
        "l_tax": [f"0.{v:02d}" for v in cols["l_tax"]],
        "l_returnflag": list(flag),
        "l_linestatus": list(np.array(["F", "O"], dtype=object)[cols["l_linestatus"]]),
        "l_shipdate": [(EPOCH + dt.timedelta(days=int(d))).date().isoformat() for d in days],
    }
    for k in bad_keys:
        row = dict(l_orderkey=str(k[0]), l_linenumber=str(k[1]), l_partkey="1",
                   l_suppkey="1", l_quantity="n/a", l_extendedprice="1.00",
                   l_discount="0.01", l_tax="0.01", l_returnflag="A",
                   l_linestatus="F", l_shipdate="1999-01-01")
        for c in LC_COLUMNS:
            out[c].append(row[c])
    pcsv.write_csv(pa.table({c: pa.array(out[c], pa.string()) for c in LC_COLUMNS}),
                   path, pcsv.WriteOptions(include_header=True, quoting_style="needed"))


def gen_lifecycle(seed, out):
    """Generation 0 (the base export) and LC_GENERATIONS dated follow-ups."""
    rng = _rng(seed, 2)
    # unique (orderkey, linenumber) keys, 1-4 lines per order
    keys = np.stack([np.arange(LC_ROWS) // 4, np.arange(LC_ROWS) % 4 + 1], axis=1)
    state = _lc_rows(keys, rng)
    next_order = LC_ROWS // 4
    bad_order = 10 ** 9
    counts = []
    for g in range(LC_GENERATIONS + 1):
        if g > 0:
            n = len(state["l_orderkey"])
            pick = rng.permutation(n)
            upd, dele = pick[:LC_UPDATES], pick[LC_UPDATES:LC_UPDATES + LC_DELETES]
            # an update always changes the quantity (a shift of 1..48 within
            # 1..50 never maps a value to itself), so CDC reports it
            state["l_quantity"][upd] = (state["l_quantity"][upd] + rng.integers(1, 49, len(upd))) % 50 + 1
            state["l_extendedprice"][upd] = rng.integers(90_000, 10_500_000, len(upd))
            keep = np.ones(n, bool)
            keep[dele] = False
            state = {c: v[keep] for c, v in state.items()}
            ins_keys = np.stack([next_order + np.arange(LC_INSERTS) // 4,
                                 np.arange(LC_INSERTS) % 4 + 1], axis=1)
            next_order += LC_INSERTS // 4 + 1
            ins = _lc_rows(ins_keys, rng)
            state = {c: np.concatenate([state[c], ins[c]]) for c in state}
            order = np.lexsort((state["l_linenumber"], state["l_orderkey"]))
            state = {c: v[order] for c, v in state.items()}
            counts.append({"generation": g, "insert": LC_INSERTS,
                           "update": LC_UPDATES, "delete": LC_DELETES})
        bad = [(bad_order + g * LC_BAD + i, 1) for i in range(LC_BAD)]
        stamp = (dt.date(2025, 1, 1) + dt.timedelta(days=7 * g)).strftime("%Y%m%d")
        _lc_frame_to_csv(state, bad, rng, f"{out}/lineitem-{stamp}.csv")
    final = pa.table({
        "l_orderkey": pa.array(state["l_orderkey"], pa.int64()),
        "l_linenumber": pa.array(state["l_linenumber"], pa.int32()),
        "l_partkey": pa.array(state["l_partkey"], pa.int64()),
        "l_suppkey": pa.array(state["l_suppkey"], pa.int64()),
        "l_quantity": pa.array(state["l_quantity"], pa.int32()),
        "l_extendedprice_cents": pa.array(state["l_extendedprice"], pa.int64()),
        "l_discount_pct": pa.array(state["l_discount"], pa.int32()),
        "l_tax_pct": pa.array(state["l_tax"], pa.int32()),
        "l_returnflag": np.array(["A", "N", "R"], dtype=object)[state["l_returnflag"]],
        "l_linestatus": np.array(["F", "O"], dtype=object)[state["l_linestatus"]],
        "l_shipdate_days": pa.array(state["l_shipdate"], pa.int32())})
    _write_parquet(final, f"{out}/expected_final.parquet")
    with open(f"{out}/expected.json", "w") as f:
        json.dump({"rows_per_generation": LC_ROWS, "generations": LC_GENERATIONS,
                   "bad_rows_per_generation": LC_BAD, "changes": counts}, f,
                  sort_keys=True, indent=1)


# -------------------------------------------------------------------- dml

def gen_dml(seed, out):
    """Base table (k, grp, qty, v) and one episode's statement stream."""
    rng = _rng(seed, 3)
    k = np.arange(DML_ROWS, dtype=np.int64)
    model = {int(i): (int(g), int(q), f"v{int(x)}") for i, g, q, x in zip(
        k, rng.integers(0, 100, DML_ROWS), rng.integers(0, 1000, DML_ROWS),
        rng.integers(0, 10 ** 6, DML_ROWS))}
    _write_parquet(pa.table({
        "k": pa.array(k, pa.int64()),
        "grp": pa.array([model[i][0] for i in range(DML_ROWS)], pa.int32()),
        "qty": pa.array([model[i][1] for i in range(DML_ROWS)], pa.int64()),
        "v": [model[i][2] for i in range(DML_ROWS)]}), f"{out}/base.parquet")
    next_key = DML_ROWS

    def skewed_keys(n):
        hot = rng.random(n * 3) < DML_HOT_SHARE
        draw = np.where(hot, rng.integers(0, DML_HOT, n * 3),
                        rng.integers(0, DML_ROWS, n * 3))
        seen, uniq = set(), []
        for x in draw:
            if int(x) not in seen:
                seen.add(int(x))
                uniq.append(int(x))
        return sorted(uniq[:n])

    kinds = ["merge", "update", "delete"]
    stream = []
    for s in range(DML_STATEMENTS):
        kind = kinds[s % 3]
        if kind == "merge":
            old = skewed_keys(DML_TOUCH * 7 // 10)
            new = list(range(next_key, next_key + DML_TOUCH - len(old)))
            next_key += len(new)
            rows = [[key, int(rng.integers(0, 100)), int(rng.integers(0, 1000)),
                     f"m{s}_{key}"] for key in old + new]
            for key, g, q, v in rows:
                model[key] = (g, q, v)
            stream.append({"op": "merge", "rows": rows})
        elif kind == "update":
            keys = skewed_keys(DML_TOUCH)
            delta = int(rng.integers(1, 10))
            for key in keys:
                if key in model:
                    g, q, v = model[key]
                    model[key] = (g, q + delta, v)
            stream.append({"op": "update", "keys": keys, "delta": delta})
        else:
            keys = skewed_keys(DML_TOUCH)
            for key in keys:
                model.pop(key, None)
            stream.append({"op": "delete", "keys": keys})
        for key in skewed_keys(DML_READS_PER_STMT):
            row = model.get(key)
            stream.append({"op": "read", "key": key,
                           "expect": None if row is None else [key, *row]})
    with open(f"{out}/stream.jsonl", "w") as f:
        for st in stream:
            f.write(json.dumps(st, sort_keys=True) + "\n")
    ks = sorted(model)
    _write_parquet(pa.table({
        "k": pa.array(ks, pa.int64()),
        "grp": pa.array([model[i][0] for i in ks], pa.int32()),
        "qty": pa.array([model[i][1] for i in ks], pa.int64()),
        "v": [model[i][2] for i in ks]}), f"{out}/expected_final.parquet")


GENERATORS = {"tables": gen_tables, "lifecycle": gen_lifecycle, "dml": gen_dml}


def generate(kind, seed, out):
    os.makedirs(out, exist_ok=True)
    GENERATORS[kind](seed, out)


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in GENERATORS:
        sys.exit(__doc__)
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
