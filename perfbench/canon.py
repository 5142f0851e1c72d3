"""Canonical result digest, the Python twin of perfbench.Digest (Scala).

A card's result is digested independently of engine, column order and
row order: columns sorted by lower-cased name, each cell rendered by
``cell``, rows sorted, SHA-256 over the lines. Whole-number doubles and
-0.0 render as integers; NaN, infinities and NULL have their own tokens;
other doubles render as their exact IEEE-754 bits; a DATE renders as its
midnight TIMESTAMP.
"""
import datetime
import decimal
import hashlib
import math
import struct

TWO_TO_53 = 2.0 ** 53
EPOCH = datetime.datetime(1970, 1, 1)


def num(d):
    if math.isnan(d):
        return "nan"
    if math.isinf(d):
        return "inf" if d > 0 else "-inf"
    if d == math.floor(d) and abs(d) < TWO_TO_53:
        return "n%d" % int(d)
    return "f%016x" % struct.unpack(">Q", struct.pack(">d", d))[0]


def cell(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return "n%d" % v
    if isinstance(v, float):
        return num(v)
    if isinstance(v, decimal.Decimal):
        if v == v.to_integral_value():
            return "n%d" % int(v)
        return num(float(v))
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        delta = v - EPOCH
        return "T%d" % (delta.days * 86_400_000_000 + delta.seconds
                        * 1_000_000 + delta.microseconds)
    if isinstance(v, datetime.date):  # a date is its midnight timestamp
        return "T%d" % ((v - EPOCH.date()).days * 86_400_000_000)
    if isinstance(v, (bytes, bytearray)):
        return "x" + v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(cell(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    return "?" + str(v)


def digest(columns, rows):
    """(sha256 hex, row count) of a result given as column names and row
    tuples."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    lines = sorted("|".join(cell(r[i]) for i in order) for r in rows)
    head = "|".join(columns[i].lower() for i in order)
    text = "\n".join([head] + lines)
    return hashlib.sha256(text.encode("utf-8")).hexdigest(), len(lines)


TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def oracle_digests(data_dir, cards):
    """Digest each card's oracle SQL (``{name: sql}``) in DuckDB over the
    parquet tables in `data_dir`. Returns ``{name: [digest, rows]}``; a
    query DuckDB cannot run maps to ``["error: ...", -1]``."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    out = {}
    for name, sql in sorted(cards.items()):
        try:
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            out[name] = list(digest(cols, cur.fetchall()))
        except Exception as e:  # noqa: BLE001 - reported as a failed card
            out[name] = ["error: %s" % e, -1]
    return out
