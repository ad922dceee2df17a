"""Output checks, run outside the timed region.

* Generated files: an order-independent DuckDB digest per model (row
  count plus the sum of a per-row hash over every column), pinned for
  the default seed. For any seed, every pass of one invocation must
  give the same digests, row counts and columns must match the config,
  and every value must lie in its column's configured domain (enum
  values, numeric ranges, string lengths).
* Operator queries: per query, the row count and the sum of a per-row
  xxhash64 over the result with floats narrowed to float32, pinned.
"""

from __future__ import annotations

import glob
import json
import os

import duckdb

PINNED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pinned.json")


def load_pinned() -> dict:
    with open(PINNED) as f:
        return json.load(f)


def _con(tmp: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '1GB'")
    con.execute(f"SET temp_directory = '{tmp}'")
    return con


def _domain_errors(con, model: dict) -> list[str]:
    """Values outside what the config allows: enums, numeric bounds, lengths."""
    conds = {}
    for c in model["columns"]:
        col, tp = f'"{c["name"]}"', c.get("type_params", {})
        if "values" in c:
            vals = ", ".join(f"'{v}'" for v in c["values"] if v is not None)
            conds[c["name"]] = f"{col} NOT IN ({vals})"
        elif "ranges" in c:
            conds[c["name"]] = " AND ".join(
                f"NOT ({col} BETWEEN {r['type_params']['from']} AND {r['type_params']['to']})"
                for r in c["ranges"])
        elif "from" in tp and c["type"] in ("integer", "float"):
            conds[c["name"]] = f"NOT ({col} BETWEEN {tp['from']} AND {tp['to']})"
        elif "min_length" in tp:
            conds[c["name"]] = (
                f"NOT (length({col}) BETWEEN {tp['min_length']} AND {tp['max_length']})")
    if not conds:
        return []
    counts = ", ".join(f"count_if({cond})" for cond in conds.values())
    bad = con.execute(f"SELECT {counts} FROM {model['_view']}").fetchone()
    return [f"{model['_view']}.{name}: {n} values outside the config's domain"
            for name, n in zip(conds, bad) if n]


def data_files(out_dir: str, model: str = "*") -> list[str]:
    return sorted(glob.glob(os.path.join(out_dir, model, "**", "*.parquet"), recursive=True))


def gen_digests(out_dir: str, cfg: dict, tmp: str) -> dict:
    """Per model: rows, hash, files and bytes of its Parquet output, plus errors."""
    con = _con(tmp)
    out: dict = {"models": {}, "errors": []}
    for name, model in cfg["models"].items():
        files = data_files(out_dir, name)
        if not files:
            raise ValueError(f"{name}: no parquet files written")
        lst = "[" + ", ".join("'" + f.replace("'", "''") + "'" for f in files) + "]"
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet({lst})")
        cols = [c[0] for c in con.execute(f"DESCRIBE {name}").fetchall()]
        quoted = ", ".join(f'"{c}"' for c in cols)
        rows, h = con.execute(
            f"SELECT count(*), CAST(coalesce(sum(hash({quoted})), 0) AS VARCHAR) FROM {name}"
        ).fetchone()
        out["models"][name] = {
            "rows": rows, "hash": h, "files": len(files),
            "bytes": sum(os.path.getsize(f) for f in files),
        }
        if rows != model["rows_count"]:
            out["errors"].append(f"{name}: {rows} rows, config says {model['rows_count']}")
        if cols != [c["name"] for c in model["columns"]]:
            out["errors"].append(f"{name}: columns {cols}")
        out["errors"] += _domain_errors(con, {**model, "_view": name})
    con.close()
    return out


def stable_hash_cols(df):
    """Columns for a run-to-run stable row hash: floats narrowed to float32.

    Float sums can differ in the last bits when Spark combines partials
    in another order; a double lands within that distance of a float32
    rounding boundary with probability ~1e-9.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    def narrow(dt):
        if isinstance(dt, (T.DoubleType, T.FloatType)):
            return T.FloatType()
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(narrow(dt.elementType), dt.containsNull)
        if isinstance(dt, T.StructType):
            return T.StructType([T.StructField(f.name, narrow(f.dataType), f.nullable)
                                 for f in dt.fields])
        if isinstance(dt, T.MapType):
            return T.MapType(dt.keyType, narrow(dt.valueType), dt.valueContainsNull)
        return dt

    return [F.col(f"`{f.name}`").cast(narrow(f.dataType)) for f in df.schema.fields]


def df_digest(df) -> dict:
    from pyspark.sql import functions as F

    h = F.xxhash64(*stable_hash_cols(df)).cast("decimal(38,0)")
    rows, s = df.select(h.alias("h")).agg(F.count("*"), F.sum("h")).first()
    return {"rows": rows, "hash": str(s if s is not None else 0), "cols": len(df.columns)}


class PassChecker:
    """Compares each pass's digests with the pinned ones and the first pass."""

    def __init__(self, pinned: dict | None):
        self.pinned = pinned
        self.first: dict | None = None

    def errors(self, got: dict) -> list[str]:
        key = {k: (v["rows"], v["hash"]) for k, v in got.items()}
        errs = []
        if self.pinned is not None:
            for k, v in key.items():
                want = self.pinned.get(k)
                if want is None or (want["rows"], want["hash"]) != v:
                    errs.append(f"{k}: digest {v} != pinned {want}")
        if self.first is None:
            self.first = key
        elif key != self.first:
            errs.append("digests differ from the first pass of this run")
        return errs
