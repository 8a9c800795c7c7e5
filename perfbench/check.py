"""Output checks and statistics helpers for the benchmark.

* `parse_ddl` / `expected_tree` / `check_ddl`: a structural check of a
  generated ClickHouse DDL against the schema that generated its Parquet
  input: column names, order, nesting kind and nullability.
* `check_oracle`: DuckDB re-runs an entry's oracle SQL over the workload's
  data and compares it with the rows of the timed collect (dumped as
  Parquet), normalised like the repo's oracle gate: columns sorted by
  name, every value compared by `repr`.
* `median`, `tail`, `geomean`: the statistics the metrics use.
"""
import glob
import math
import os
import re

from gen import TABLES


# ------------------------------------------------------------------ stats

def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of nothing")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def tail(xs, beyond=10):
    """(percentile, value): the highest of p99, p95, p90, p75, p50 that has
    at least `beyond` samples above it, by nearest rank. None if even the
    median has fewer than `beyond` samples above it."""
    s = sorted(xs)
    n = len(s)
    for p in (99, 95, 90, 75, 50):
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= beyond:
            return p, s[rank - 1]
    return None


def geomean(xs):
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


# ------------------------------------------------------------ DDL parsing

_OPEN = re.compile(r"^(?:(\S+) )?(Tuple\(|Nested \(|Map \()$")


def parse_ddl(text):
    """The column tree of a `create table` body. Each node is a dict with
    name (None for a bare map key/value), kind (scalar, array, tuple,
    nested, map) and nullable; containers have children."""
    lines = text.split("\n")
    try:
        start = next(i for i, l in enumerate(lines) if l.startswith("create table ")) + 1
    except StopIteration:
        raise ValueError("no create table line")
    root = {"name": None, "kind": "table", "children": []}
    stack = [root]
    for raw in lines[start:]:
        line = raw.strip()
        if line.startswith(") engine"):
            if len(stack) != 1:
                raise ValueError("unbalanced parentheses")
            return root["children"]
        if line.startswith(", "):
            line = line[2:]
        if line == ")":
            if len(stack) == 1:
                raise ValueError("unbalanced parentheses")
            stack.pop()
            continue
        m = _OPEN.match(line)
        if m:
            kind = {"Tuple(": "tuple", "Nested (": "nested", "Map (": "map"}[m.group(2)]
            node = {"name": m.group(1), "kind": kind, "nullable": False, "children": []}
            stack[-1]["children"].append(node)
            stack.append(node)
            continue
        if stack[-1]["kind"] == "map":
            name, typ = None, line              # bare map key or value type
        elif " " in line:
            name, typ = line.split(" ", 1)
        else:
            raise ValueError(f"cannot parse line: {raw!r}")
        if typ.startswith("Array("):
            stack[-1]["children"].append({"name": name, "kind": "array",
                                          "nullable": "Nullable(" in typ, "children": []})
        else:
            nullable = typ.startswith("Nullable(") or typ.startswith("LowCardinality(Nullable(")
            stack[-1]["children"].append({"name": name, "kind": "scalar",
                                          "nullable": nullable, "children": []})
    raise ValueError("no engine line")


def expected_tree(schema, pk, mode="legacy"):
    """The column tree the DDL tool should emit for a generating schema
    (see gen.schema_to_json), following the reference's rendering rules."""
    def field(node, name):
        kind = node["kind"]
        if kind == "scalar":
            return {"name": name, "kind": "scalar", "nullable": name != pk, "children": []}
        if kind == "struct":
            return {"name": name, "kind": "tuple", "nullable": False,
                    "children": [field(c, c["name"]) for c in node["children"]]}
        if kind == "list":
            el = node["children"][0]
            if el["kind"] == "scalar" and mode == "extended":
                return {"name": name, "kind": "array", "nullable": True, "children": []}
            if el["kind"] == "struct":
                body = [field(c, c["name"]) for c in el["children"]]
            else:
                body = [field(el, "element")]
            return {"name": name, "kind": "nested", "nullable": False, "children": body}
        if kind == "map":
            key, val = node["children"]
            body = [{"name": None, "kind": "scalar", "nullable": False, "children": []}]
            if val["kind"] == "struct":
                body.append({"name": None, "kind": "tuple", "nullable": False,
                             "children": [field(c, c["name"]) for c in val["children"]]})
            elif val["kind"] == "scalar":
                body.append({"name": None, "kind": "scalar", "nullable": False, "children": []})
            else:
                body.append(field(val, "value"))
            return {"name": name, "kind": "map", "nullable": False, "children": body}
        raise ValueError(f"unknown kind {kind}")
    return [field(n, n["name"]) for n in schema]


def check_ddl(text, schema, pk, mode="legacy"):
    """None if the DDL matches its generating schema structurally, else the
    first difference as a path and message."""
    try:
        got = parse_ddl(text)
    except ValueError as e:
        return f"unparseable: {e}"

    def cmp(a, b, path):
        if len(a) != len(b):
            return f"{path}: {len(b)} columns, want {len(a)}"
        for x, y in zip(a, b):
            here = f"{path}/{x['name']}"
            for k in ("name", "kind", "nullable"):
                if x[k] != y[k]:
                    return f"{here}: {k} is {y[k]!r}, want {x[k]!r}"
            d = cmp(x["children"], y["children"], here)
            if d:
                return d
        return None
    return cmp(expected_tree(schema, pk, mode), got, "")


# --------------------------------------------------------- oracle checks

def oracle_connection(data_dir):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _rows(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return list(df.columns), [tuple(repr(v) for v in r) for r in df.itertuples(index=False)]


def dumped_rows(con, dump_dir):
    files = glob.glob(os.path.join(dump_dir, "*.parquet"))
    if not files:
        raise ValueError("no dumped rows")
    return _rows(con.execute(f"SELECT * FROM '{files[0]}'").fetchdf())


def check_oracle(con, sql, dump_dir):
    """None if the dumped rows equal the oracle's, else a message."""
    try:
        want_cols, want = _rows(con.execute(sql).fetchdf())
        got_cols, got = dumped_rows(con, dump_dir)
    except Exception as e:  # an oracle or dump error is a failed check
        return f"error: {str(e).splitlines()[0]}"
    if want_cols != got_cols:
        return f"columns want={want_cols} got={got_cols}"
    if len(want) != len(got):
        return f"row count want={len(want)} got={len(got)}"
    diffs = [i for i, (a, b) in enumerate(zip(want, got)) if a != b]
    if diffs:
        i = diffs[0]
        return f"{len(diffs)}/{len(want)} rows differ; first: row {i} want={want[i]} got={got[i]}"
    return None


def check_golden_rows(con, golden, dump_dir):
    """None if the dumped rows equal the pinned golden rows (lists of
    values in sorted-column order, compared by repr)."""
    try:
        cols, got = dumped_rows(con, dump_dir)
    except Exception as e:
        return f"error: {str(e).splitlines()[0]}"
    want = [tuple(repr(v) for v in row) for row in golden["rows"]]
    if cols != golden["columns"]:
        return f"columns want={golden['columns']} got={cols}"
    if got != want:
        return f"rows differ from golden: got={got[:2]}"
    return None
