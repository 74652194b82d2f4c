"""Result fingerprints: the row count plus a hash of the canonicalised rows.

Canonicalisation follows scripts/oracle_check.py: columns are sorted by
name, rows are sorted, values are compared exactly and numeric dtype does not
matter (1 and 1.0 are the same value). Both sides are read through DuckDB, so
a Spark result (its parquet output) and the oracle SQL's result are turned
into Python values by the same code before they are hashed.
"""
import datetime
import decimal
import hashlib
import json
import math


def canon_value(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "null"
        if f.is_integer() and not math.isinf(f):
            return str(int(f))
        return repr(f)
    if isinstance(v, str):
        return json.dumps(v, ensure_ascii=False)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "0x" + bytes(v).hex()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (datetime.date, datetime.time, datetime.timedelta)):
        return str(v)
    if isinstance(v, dict):
        return "{" + ",".join(f"{canon_value(k)}:{canon_value(x)}"
                              for k, x in sorted(v.items(), key=lambda kv: str(kv[0]))) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    return str(v)


def fingerprint_relation(rel) -> dict:
    """Fingerprint of a DuckDB relation: {"rows": n, "sha256": hex}."""
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted("\x1f".join(canon_value(r[i]) for i in order) for r in rel.fetchall())
    h = hashlib.sha256()
    h.update(("\x1f".join(cols[i] for i in order) + "\n").encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return {"rows": len(rows), "sha256": h.hexdigest()[:32]}


def fingerprint_parquet(con, directory: str) -> dict:
    return fingerprint_relation(con.sql(
        f"SELECT * FROM read_parquet('{directory}/*.parquet')"))
