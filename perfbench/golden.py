"""Order-insensitive value hashes of query results, and the script that
computes the checked-in golden hashes from the DuckDB oracles.

The hash follows ``tools/driver_sim.py``'s ``vhash``: columns sorted by
name, rows sorted, every value as a string, SHA-256 cut to 12 hex digits.
Values are first brought to one canonical string per value so that a
Spark ``collect()`` (Python ints, floats, ``Decimal``, ``Row``, lists) and
a DuckDB frame (NumPy scalars and arrays, NaN for NULL) hash alike when
they hold the same values: NULL and NaN read as one, an integral float
reads as an integer, float32 is widened to float64, and a decimal is read
as the nearest float.

Regenerate after a deliberate change to a query or its oracle:

    python3 perfbench/golden.py            # rewrites perfbench/golden.json
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
GOLDEN_FILE = os.path.join(HERE, "golden.json")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v) -> str:
    """One canonical string per value (see the module docstring)."""
    if v is None:
        return "∅"
    if isinstance(v, str):
        return v
    if isinstance(v, bool) or type(v).__name__ == "bool_":
        return str(bool(v))
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, dict):
        return "{" + ",".join(
            f"{canon(k)}:{canon(x)}" for k, x in sorted(v.items(), key=lambda kv: canon(kv[0]))
        ) + "}"
    if hasattr(v, "asDict"):  # pyspark Row (a struct)
        return canon(v.asDict())
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, (_dt.datetime, _dt.date)) or type(v).__name__ == "Timestamp":
        if getattr(v, "tzinfo", None) is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if type(v).__name__ in ("NAType", "NaTType"):
        return "∅"
    try:
        f = float(v)
    except (TypeError, ValueError):
        return str(v)
    if math.isnan(f):
        return "∅"
    if math.isfinite(f) and f.is_integer() and abs(f) < 2**53:
        return str(int(f))
    return repr(f)


def vhash(columns: list[str], rows) -> str:
    """Hash of a result given its column names and row tuples."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    body = sorted(
        "\x1f".join(canon(row[i]) for i in order) for row in rows
    )
    head = "\x1f".join(columns[i] for i in order)
    return hashlib.sha256(
        "\x1e".join([head, *body]).encode("utf-8")
    ).hexdigest()[:12]


def frame_hash(pdf) -> str:
    return vhash(list(pdf.columns), pdf.itertuples(index=False, name=None))


def load() -> dict:
    with open(GOLDEN_FILE) as fh:
        return json.load(fh)


def oracle_hashes(data_dir: str, names: list[str]) -> dict[str, str]:
    """DuckDB oracle hash per query name that has an oracle."""
    import duckdb

    from database_migration_engine_spark.plans import ORACLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(data_dir, t)}.parquet')"
        )
    return {n: frame_hash(con.sql(ORACLES[n]).df()) for n in names if n in ORACLES}


def main() -> None:
    root = os.path.dirname(HERE)
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    import workloads

    out = {}
    for scale, names in workloads.golden_scope().items():
        out[scale] = dict(sorted(
            oracle_hashes(os.path.join(HERE, "data", scale), names).items()
        ))
    with open(GOLDEN_FILE, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {GOLDEN_FILE}: "
          + ", ".join(f"{k}={len(v)}" for k, v in out.items()))


if __name__ == "__main__":
    main()
