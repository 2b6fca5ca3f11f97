"""Seeded input generators, one per workload.

Every generator is a pure function of (workload, seed): the same seed
writes byte-identical Parquet files, a different seed writes different
ones. Generation runs as its own prepare step, before the benchmark JVM
starts, so the JVM's set-up time never includes it.

Layout of a prepared directory:

    history_load/  src/<table>.parquet/part-*.parquet   source tables
                   tables.json                          name, rows, active flag,
                                                        column sums (`checksum`)
    interactive/   <table>.parquet/part-0.parquet       TPC-H-ish star + events,
                                                        documents, embeddings
                   documents_truth.json                 planted duplicate ids
    corpus_dedup/  shards/shard_NNN.parquet/part-0.parquet
                   truth.json                           planted ids per shard

The other workloads also get the interactive set under `probe/`.
"""

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window join small big data column order group stream "
    "filter query customer vector index shard cache plan stage task queue "
    "page block file write read load sink source audit schema cast date "
    "time zone event user click view signup purchase error price tax "
    "discount ship return status region nation supplier brand type size "
    "token text doc corpus gram hash band bucket pair score rank top near "
    "exact dedup clean quality filter lang source clean shuffle spill"
).split()
WORDS = sorted(set(WORDS))

# history_load: a few fixed table sizes; every fourth table is inactive
HISTORY_SIZES = (20_000, 60_000, 150_000)
HISTORY_TABLES_PER_SIZE = 5
HISTORY_FILES_PER_TABLE = 4

# corpus_dedup: fixed-size shards with planted duplicates
CORPUS_SHARDS = 24
CORPUS_BASE = 800        # distinct documents per shard
CORPUS_EXACT = 60        # exact copies of base documents
CORPUS_NEAR = 100        # one-word edits of base documents
CORPUS_SHORT = 40        # documents under the quality gate's 20 tokens


def _write(table: pa.Table, path: str, files: int = 1) -> None:
    """Write `table` as `files` part files under the directory `path`."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    bounds = [n * i // files for i in range(files + 1)]
    for i in range(files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"),
                       compression="snappy")


def _pick(rng, pool, n):
    return pa.array(pool).take(pa.array(rng.integers(0, len(pool), n)))


def _nulled(values: pa.Array, mask: np.ndarray) -> pa.Array:
    return pc.if_else(pa.array(mask), pa.scalar(None, values.type), values)


def _decimal(units: np.ndarray, precision: int, scale: int) -> pa.Array:
    """Exact decimals whose unscaled values are `units` (int64): the
    16-byte little-endian two's complement layout of decimal128."""
    units = units.astype(np.int64)
    words = np.empty((len(units), 2), dtype=np.int64)
    words[:, 0] = units
    words[:, 1] = np.where(units < 0, -1, 0)
    return pa.Array.from_buffers(pa.decimal128(precision, scale), len(units),
                                 [None, pa.py_buffer(words.tobytes())])


def _text(rng, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


# --------------------------------------------------------------- history


def history_table(seed: int, idx: int, rows: int) -> pa.Table:
    """One source table in the reference's type matrix: bool and tinyint
    flags, exact decimals, timestamps, and nullable strings. Column
    names carry upper case and spaces so name normalization has work."""
    rng = np.random.default_rng([seed, 1, idx])
    ids = np.arange(rows, dtype=np.int64) + idx * 10_000_000
    notes = [_text(rng, 6) for _ in range(64)]
    codes = [f"C-{i:04d}" for i in range(500)]
    null_code = rng.random(rows) < 0.1
    null_note = rng.random(rows) < 0.3
    base_ms = 1_700_000_000_000
    return pa.table({
        "Row Id": pa.array(ids),
        "Is Active": pa.array(rng.random(rows) < 0.7),
        "Tier": pa.array(rng.integers(-100, 100, rows).astype(np.int8)),
        "Qty": pa.array(rng.integers(0, 5000, rows).astype(np.int32)),
        "Amount": _decimal(rng.integers(-10_000_000, 10_000_000, rows), 12, 2),
        "Rate": _decimal(rng.integers(0, 10_000_000, rows), 18, 6),
        "Score": pa.array(np.round(rng.normal(0, 100, rows), 3)),
        "Created Ts": pa.array(base_ms + rng.integers(0, 10 ** 10, rows),
                               pa.timestamp("ms")),
        "Due Date": pa.array(rng.integers(18_000, 20_000, rows).astype(np.int32),
                             pa.date32()),
        "Code": _nulled(_pick(rng, codes, rows), null_code),
        "Note": _nulled(_pick(rng, notes, rows), null_note),
    })


def checksum(table: pa.Table) -> list:
    """Order-independent column sums of a history table, every column
    in an integer canonical form: the row count, then per column its
    non-null count and the exact sum of its values (booleans as 0/1,
    decimals unscaled, doubles in thousandths, timestamps in epoch
    microseconds, dates in epoch days, strings by length). The
    benchmark recomputes them from the written output."""
    sums = [table.num_rows]
    for col in table.columns:
        t = col.type
        valid = col.combine_chunks().drop_null()
        if pa.types.is_decimal(t):  # unscaled: the low word of decimal128
            vals = np.frombuffer(valid.buffers()[1], dtype=np.int64)[::2][:len(valid)]
        elif pa.types.is_floating(t):
            vals = np.round(valid.to_numpy() * 1000)
        elif pa.types.is_timestamp(t):
            vals = pc.cast(pc.cast(valid, pa.timestamp("us")), pa.int64()).to_numpy()
        elif pa.types.is_string(t):
            vals = pc.utf8_length(valid).to_numpy()
        elif pa.types.is_date(t):
            vals = pc.cast(valid, pa.int32()).to_numpy()
        else:  # booleans, integers
            vals = pc.cast(valid, pa.int64()).to_numpy()
        sums += [len(valid), int(np.sum(vals.astype(np.int64), dtype=object))]
    return [str(x) for x in sums]


def prepare_history(seed: int, out: str) -> None:
    by_size = []
    idx = 0
    for rows in HISTORY_SIZES:
        specs = []
        for _ in range(HISTORY_TABLES_PER_SIZE):
            name = f"t{idx:02d}_{rows // 1000}k"
            table = history_table(seed, idx, rows)
            specs.append({"name": name, "rows": rows,
                          "active": "F" if idx % 4 == 3 else "T",
                          "checksum": checksum(table)})
            _write(table, os.path.join(out, "src", f"{name}.parquet"),
                   HISTORY_FILES_PER_TABLE)
            idx += 1
        by_size.append(specs)
    # rounds of one table per size, in a seeded order within each size;
    # the inactive tables (one per size) make a round of their own at a
    # seeded place, so the active tables run in whole rounds of one
    # small, one medium and one large table
    rng = np.random.default_rng([seed, 2])
    active = [[t for t in specs if t["active"] == "T"] for specs in by_size]
    rounds = [list(r) for r in zip(*[[ts[i] for i in rng.permutation(len(ts))]
                                     for ts in active])]
    inactive = [t for specs in by_size for t in specs if t["active"] == "F"]
    assert len({len(ts) for ts in active}) == 1 and len(inactive) == len(by_size)
    rounds.insert(int(rng.integers(0, len(rounds) + 1)), inactive)
    order = [t for r in rounds for t in r]
    with open(os.path.join(out, "tables.json"), "w") as f:
        json.dump(order, f, indent=1)


# ----------------------------------------------------------- interactive

REL_ROWS = {"customer": 1500, "supplier": 100, "part": 2000,
            "orders": 15000, "lineitem": 60000, "events": 10000,
            "documents": 2000, "embeddings": 1000}


def _documents(rng, n_base: int, start_id: int):
    """Base documents plus planted exact and one-word-edit copies.

    Returns the rows and the planted truth: ids of base documents, of
    exact copies, of near copies (each with its base id), and of
    documents under 20 tokens."""
    ids, texts = [], []
    base, exact, near, short = [], [], [], []
    next_id = start_id
    for _ in range(n_base):
        ids.append(next_id)
        texts.append(_text(rng, int(rng.integers(40, 90))))
        base.append(next_id)
        next_id += 1
    for _ in range(n_base * CORPUS_EXACT // CORPUS_BASE):
        src = int(rng.integers(0, n_base))
        ids.append(next_id)
        texts.append(texts[src])
        exact.append(next_id)
        next_id += 1
    for _ in range(n_base * CORPUS_NEAR // CORPUS_BASE):
        src = int(rng.integers(0, n_base))
        words = texts[src].split(" ")
        pos = int(rng.integers(1, len(words) - 1))
        words[pos] = "edited" + str(next_id)
        ids.append(next_id)
        texts.append(" ".join(words))
        near.append([next_id, base[src]])
        next_id += 1
    for _ in range(n_base * CORPUS_SHORT // CORPUS_BASE):
        ids.append(next_id)
        texts.append(_text(rng, int(rng.integers(3, 15))))
        short.append(next_id)
        next_id += 1
    # interleave so planted copies are not physically adjacent
    perm = rng.permutation(len(ids))
    rows = ([ids[i] for i in perm], [texts[i] for i in perm])
    truth = {"base": base, "exact": exact, "near": near, "short": short}
    return rows, truth


def prepare_interactive(seed: int, out: str) -> None:
    rng = np.random.default_rng([seed, 3])
    n = REL_ROWS
    ts_ms = lambda lo, hi, k: pa.array(  # noqa: E731
        (rng.integers(lo, hi, k) * 86_400_000).astype(np.int64), pa.timestamp("ms"))
    tables = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": [f"REGION_{i}" for i in range(5)]}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)],
                                                    pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n["customer"], dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]).astype(np.int32)),
            "c_acctbal": pa.array(rng.integers(-99_999, 999_999, n["customer"]) / 100),
            "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                        "HOUSEHOLD", "MACHINERY"], n["customer"])}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n["supplier"], dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]).astype(np.int32)),
            "s_acctbal": pa.array(rng.integers(-99_999, 999_999, n["supplier"]) / 100)}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n["part"], dtype=np.int64)),
            "p_name": _pick(rng, [f"{a} {b}" for a in ("small", "red", "big", "blue")
                                  for b in ("ring", "widget", "bolt", "gear")], n["part"]),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(25)], n["part"]),
            "p_type": _pick(rng, ["ECONOMY", "STANDARD", "PROMO", "LARGE"], n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"]).astype(np.int32)),
            "p_retailprice": pa.array(rng.integers(90_000, 200_000, n["part"]) / 100)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n["orders"], dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"])),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n["orders"]),
            "o_totalprice": pa.array(rng.integers(100_000, 50_000_000, n["orders"]) / 100),
            "o_orderdate": ts_ms(9_000, 12_000, n["orders"]),
            "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                           "4-NOT SPECIFIED", "5-LOW"], n["orders"])}),
    }
    k = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], k)),
        "l_partkey": pa.array(rng.integers(0, n["part"], k)),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], k)),
        "l_linenumber": pa.array(rng.integers(1, 8, k).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, k).astype(np.float64)),
        "l_extendedprice": pa.array(rng.integers(100_000, 10_000_000, k) / 100),
        "l_discount": pa.array(rng.integers(0, 11, k) / 100),
        "l_tax": pa.array(rng.integers(0, 9, k) / 100),
        "l_returnflag": _pick(rng, ["A", "N", "R"], k),
        "l_linestatus": _pick(rng, ["F", "O"], k),
        "l_shipdate": ts_ms(9_000, 12_000, k)})
    k = n["events"]
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(k, dtype=np.int64)),
        "ts": pa.array(np.sort(1_704_067_200_000_000
                               + rng.integers(0, 30 * 86_400_000_000, k)),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 200, k)),
        "event_type": _pick(rng, ["click", "view", "signup", "purchase", "error"], k),
        "value": pa.array(rng.integers(0, 10_000, k) / 100),
        "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, k)])})
    (doc_ids, texts), truth = _documents(rng, n["documents"] * 4 // 5, 0)
    m = len(doc_ids)
    tables["documents"] = pa.table({
        "doc_id": pa.array(doc_ids, pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, ["en", "en", "de", "fr", "es", "zh"], m),
        "source": _pick(rng, [f"src{i}" for i in range(20)], m),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    k = n["embeddings"]
    vecs = rng.normal(0, 0.2, (k, 64)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(k, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, k).astype(np.int32))})
    for name, tb in tables.items():
        _write(tb, os.path.join(out, f"{name}.parquet"))
    with open(os.path.join(out, "documents_truth.json"), "w") as f:
        json.dump(truth, f)


# ----------------------------------------------------------- corpus_dedup


def prepare_corpus(seed: int, out: str) -> None:
    truths = []
    for s in range(CORPUS_SHARDS):
        rng = np.random.default_rng([seed, 4, s])
        (ids, texts), truth = _documents(rng, CORPUS_BASE, s * 100_000)
        _write(pa.table({"doc_id": pa.array(ids, pa.int64()),
                         "text": pa.array(texts)}),
               os.path.join(out, "shards", f"shard_{s:03d}.parquet"))
        truth["shard"] = f"shard_{s:03d}"
        truths.append(truth)
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truths, f)


PREPARE = {"history_load": prepare_history,
           "interactive": prepare_interactive,
           "corpus_dedup": prepare_corpus}


def prepare(workload: str, seed: int, out: str) -> None:
    """Generate the inputs of (workload, seed) into `out`, plus the
    interactive set under `out/probe`, which the traced run's layer
    probes read on every workload."""
    tmp = out + ".tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    PREPARE[workload](seed, tmp)
    if workload != "interactive":
        prepare_interactive(seed, os.path.join(tmp, "probe"))
    os.rename(tmp, out)
