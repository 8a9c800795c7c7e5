"""Seeded input generators for the benchmark.

Every generator draws from numpy's PCG64 seeded with (seed, a fixed per-table
tag) and writes Parquet with pyarrow's default writer, so the same seed gives
byte-identical files.

* `write_tables` writes the ten test tables (region ... embeddings) with the
  schemas, key ranges and value distributions of the reference test data
  (TPC-H-ish star schema plus `events`, `documents`, `embeddings`).
  Documents keep the reference vocabulary, the 10-100 word length, the
  language and source mix, and its duplicate structure: 5% of documents are
  near-duplicates (an earlier document plus the token `dup`) and 0.16% are
  exact copies. Every document that is not a copy is drawn fresh.
* `write_ddl_corpus` writes the schema-tool corpus: the reference fixtures,
  synthetic wide and deep schemas, an extended-type file and one
  64-part-file directory. It returns one JSON-able spec per conversion.
"""
import hashlib
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "es", "fr", "de", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
NEAR_DUP_RATE = 0.05
EXACT_DUP_RATE = 0.0016
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
P_NOUN = ["ring", "widget", "bolt", "anvil", "gear", "plate", "nut", "valve"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EMB_DIM = 64
DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")


def rng(seed, tag):
    return np.random.default_rng([seed, zlib.crc32(tag.encode())])


def _write(table, path):
    pq.write_table(table, path)


def _money(r, lo, hi, n):
    """Two-decimal values in [lo, hi], exact on the 0.01 grid."""
    return np.round(r.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _days(r, n, span):
    return EPOCH_1995 + (r.integers(0, span, n) * DAY_US).astype("timedelta64[us]")


def documents(seed, n):
    """`n` documents: fresh word soup plus near and exact duplicates."""
    r = rng(seed, "documents")
    kind = r.random(n)
    texts = []
    for i in range(n):
        if i > 0 and kind[i] < NEAR_DUP_RATE:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        elif i > 0 and kind[i] < NEAR_DUP_RATE + EXACT_DUP_RATE:
            texts.append(texts[int(r.integers(0, i))])
        else:
            words = r.integers(0, len(VOCAB), int(r.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[k] for k in r.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(seed, n):
    r = rng(seed, "embeddings")
    v = r.standard_normal((n, EMB_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": r.integers(0, 10, n).astype(np.int32),
    })


def write_tables(out_dir, seed, sf):
    """The ten tables at scale factor `sf` (row counts as in the reference
    data: lineitem 6M x sf)."""
    os.makedirs(out_dir, exist_ok=True)
    n = lambda base: max(1, int(round(base * sf)))
    n_cust, n_supp, n_part = n(150_000), n(10_000), n(200_000)
    n_ord, n_line, n_ev = n(1_500_000), n(6_000_000), n(1_000_000)
    n_users = n(15_000)
    p = lambda t: os.path.join(out_dir, f"{t}.parquet")

    _write(pa.table({"r_regionkey": np.arange(5, dtype=np.int32),
                     "r_name": REGIONS}), p("region"))
    _write(pa.table({"n_nationkey": np.arange(25, dtype=np.int32),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": (np.arange(25) % 5).astype(np.int32)}), p("nation"))
    r = rng(seed, "customer")
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[k] for k in r.integers(0, 5, n_cust)]}), p("customer"))
    r = rng(seed, "supplier")
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp)}), p("supplier"))
    r = rng(seed, "part")
    _write(pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                   zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{k}" for k in r.integers(1, 26, n_part)],
        "p_type": [P_TYPES[k] for k in r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)}), p("part"))
    r = rng(seed, "orders")
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[k] for k in r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(_days(r, n_ord, 2405), pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[k] for k in r.integers(0, 5, n_ord)]}), p("orders"))
    r = rng(seed, "lineitem")
    _write(pa.table({
        "l_orderkey": r.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, n_line),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[k] for k in r.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[k] for k in r.integers(0, 2, n_line)],
        "l_shipdate": pa.array(_days(r, n_line, 2499) + np.timedelta64(DAY_US, "us"),
                               pa.timestamp("us"))}), p("lineitem"))
    r = rng(seed, "events")
    gaps = r.random(n_ev)
    ts_us = np.floor(np.cumsum(gaps) / gaps.sum() * (30 * DAY_US - 60_000_000)).astype(np.int64)
    _write(pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": r.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": [EVENT_TYPES[k] for k in r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]}), p("events"))
    _write(documents(seed, n(50_000)), p("documents"))
    _write(embeddings(seed, max(500, n(20_000))), p("embeddings"))


# ---------------------------------------------------------------- DDL corpus

FIXTURE_STRUCT = pa.struct([("a", pa.string()), ("b", pa.string())])
FIXTURE_LIST = pa.list_(pa.struct([("a", pa.string())]))
FIXTURE_MAP = pa.map_(pa.string(), FIXTURE_STRUCT)
REF_SCHEMA = pa.schema([("a", pa.int32()), ("b", pa.string()),
                        ("c", FIXTURE_STRUCT), ("d", FIXTURE_LIST)])
MAP_SCHEMA = pa.schema(list(REF_SCHEMA) + [pa.field("e", FIXTURE_MAP)])
README_SCHEMA = pa.schema([pa.field("id", pa.int32())] + list(REF_SCHEMA))

# scalars every mode maps (ClickHouseType Legacy surface)
LEGACY_SCALARS = [pa.bool_(), pa.int32(), pa.int64(), pa.float32(),
                  pa.float64(), pa.string(), pa.binary(), pa.date32(),
                  pa.timestamp("us")]
WIDTHS = [1, 8, 64, 256, 2000]
DEPTHS = [0, 1, 2, 4, 6]


def _nested(r, depth, width):
    """A type with exactly `depth` container levels over struct/list/map;
    a struct has 1-4 fields (at most `width`)."""
    if depth == 0:
        return LEGACY_SCALARS[int(r.integers(0, len(LEGACY_SCALARS)))]
    kind = int(r.integers(0, 3))
    inner = lambda: _nested(r, depth - 1, width)
    if kind == 0:
        k = int(r.integers(1, min(4, width) + 1))
        return pa.struct([(f"f{j}", inner()) for j in range(k)])
    if kind == 1:
        return pa.list_(inner())
    return pa.map_(pa.string(), inner())


def synthetic_schema(seed, width, depth):
    """`width` top-level columns; the first is the int64 primary key, and one
    column in four carries `depth` levels of nesting (all of them when the
    schema is narrow)."""
    r = rng(seed, f"schema_{width}_{depth}")
    fields = [pa.field("id", pa.int64())]
    for i in range(1, width):
        d = depth if (width <= 8 or i % 4 == 1) else 0
        fields.append(pa.field(f"c{i}", _nested(r, d, width)))
    return pa.schema(fields)


def extended_table():
    """One row per extended-mode physical/logical case that Spark reads and
    this pyarrow writes: decimals (FLBA) at three precisions, date,
    timestamp ms/us/ns and the unsigned INT annotations (INT96 needs its
    own file)."""
    return pa.table({
        "id": pa.array([1], pa.int64()),
        "d32": pa.array([1], pa.decimal128(9, 2)),
        "d64": pa.array([1], pa.decimal128(18, 4)),
        "d128": pa.array([1], pa.decimal128(30, 6)),
        "day": pa.array([0], pa.date32()),
        "ts_ms": pa.array([0], pa.timestamp("ms")),
        "ts_us": pa.array([0], pa.timestamp("us")),
        "ts_ns": pa.array([0], pa.timestamp("ns")),
        "u8": pa.array([1], pa.uint8()),
        "u16": pa.array([1], pa.uint16()),
        "u32": pa.array([1], pa.uint32()),
        "u64": pa.array([1], pa.uint64()),
    })


def _write_schema_file(schema, path, rows=2):
    pq.write_table(pa.table({f.name: pa.nulls(rows, f.type) for f in schema},
                            schema=schema), path)


def write_ddl_corpus(out_dir, seed, tables_dir):
    """Write the schema-tool corpus under `out_dir`; return the conversion
    specs: path, table name, primary key, mode and the golden or the
    generating schema the DDL is checked against."""
    os.makedirs(out_dir, exist_ok=True)
    specs = []

    def add(key, path, table, pk, mode="legacy", golden=None, schema=None):
        specs.append({"key": key, "path": path, "table": table, "pk": pk, "mode": mode,
                      "golden": golden, "schema": schema_to_json(schema) if schema is not None else None})

    for name, schema, pk in [("ref_fixture", REF_SCHEMA, "foo"),
                             ("map_fixture", MAP_SCHEMA, "foo"),
                             ("readme_fixture", README_SCHEMA, "id")]:
        path = os.path.join(out_dir, f"{name}.parquet")
        _write_schema_file(schema, path, rows=1)
        add(name, path, "T" if pk == "foo" else "people", pk, golden=name, schema=schema)
    specs += table_specs(tables_dir)
    for w in WIDTHS:
        for d in DEPTHS:
            schema = synthetic_schema(seed, w, d)
            path = os.path.join(out_dir, f"syn_w{w}_d{d}.parquet")
            _write_schema_file(schema, path)
            add(f"syn_w{w}_d{d}", path, f"syn_w{w}_d{d}", "id", schema=schema)
    ext = os.path.join(out_dir, "extended.parquet")
    pq.write_table(extended_table(), ext)
    # INT96 is a writer-wide switch in pyarrow: write it as its own file
    int96 = os.path.join(out_dir, "extended_int96.parquet")
    pq.write_table(pa.table({"id": pa.array([1], pa.int64()),
                             "ts_96": pa.array([0], pa.timestamp("ns"))}),
                   int96, use_deprecated_int96_timestamps=True)
    add("extended", ext, "extended", "id", mode="extended", schema=pq.read_schema(ext))
    add("extended_int96", int96, "extended_int96", "id", mode="extended",
        schema=pq.read_schema(int96))
    # one 64-part-file directory: the directory input of a schema merge
    parts = os.path.join(out_dir, "parts64")
    os.makedirs(parts, exist_ok=True)
    lineitem = pq.read_table(os.path.join(tables_dir, "lineitem.parquet"))
    step = -(-lineitem.num_rows // 64)
    for i in range(64):
        pq.write_table(lineitem.slice(i * step, step),
                       os.path.join(parts, f"part-{i:05d}.parquet"))
    add("lineitem_parts", parts, "lineitem_parts", "l_orderkey", schema=lineitem.schema)
    return specs


def table_specs(tables_dir):
    """Conversion specs of the ten tables, read in place; the first column
    is the primary key."""
    specs = []
    for t in TABLES:
        path = os.path.join(tables_dir, f"{t}.parquet")
        schema = pq.read_schema(path)
        specs.append({"key": t, "path": path, "table": t, "pk": schema.names[0],
                      "mode": "legacy", "golden": None, "schema": schema_to_json(schema)})
    return specs


def schema_to_json(schema):
    """Generating schema as a JSON tree the structural DDL checker reads:
    each node {name, kind, children} with kind scalar/struct/list/map."""
    def node(name, t):
        if pa.types.is_struct(t):
            return {"name": name, "kind": "struct",
                    "children": [node(t.field(i).name, t.field(i).type)
                                 for i in range(t.num_fields)]}
        if pa.types.is_map(t):
            return {"name": name, "kind": "map",
                    "children": [node("key", t.key_type), node("value", t.item_type)]}
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            return {"name": name, "kind": "list",
                    "children": [node("element", t.value_type)]}
        return {"name": name, "kind": "scalar", "type": str(t), "children": []}
    return [node(f.name, f.type) for f in schema]


def digest(paths):
    """SHA-256 over the bytes of every file under `paths`, in sorted order."""
    h = hashlib.sha256()
    files = []
    for p in paths:
        if os.path.isdir(p):
            for root, _, names in os.walk(p):
                files += [os.path.join(root, n) for n in names]
        else:
            files.append(p)
    for f in sorted(files):
        h.update(os.path.basename(f).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]
