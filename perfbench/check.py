"""Output check, independent of the program under test.

Expected results come from the generator's own bookkeeping (`gen.py`); the
warehouse tables the program exported are read back with DuckDB. A table
matches when its column set equals the expected one and the SHA-256 of its
sorted canonical rows (`extracted_at` excluded) equals the expected digest.
"""

import hashlib

import duckdb


def _digest(rows):
    h = hashlib.sha256()
    for r in sorted(rows, key=lambda t: tuple("\0" if v is None else v
                                              for v in t)):
        h.update(repr(r).encode())
    return h.hexdigest()


def table_rows(parquet_dir):
    """(column names, canonical text rows) of an exported table."""
    con = duckdb.connect()
    try:
        src = "read_parquet('%s/*.parquet')" % parquet_dir
        desc = con.execute("DESCRIBE SELECT * FROM %s" % src).fetchall()
        cols = sorted(d[0] for d in desc)
        types = {d[0]: d[1] for d in desc}
        exprs = []
        for c in cols:
            q = '"%s"' % c
            if types[c] in ("DOUBLE", "FLOAT"):
                exprs.append("CAST(CAST(%s AS DECIMAL(18,2)) AS VARCHAR)" % q)
            else:
                exprs.append("CAST(%s AS VARCHAR)" % q)
        rows = con.execute("SELECT %s FROM %s" % (", ".join(exprs), src)
                           ).fetchall()
        return cols, rows
    finally:
        con.close()


def expected_rows(changesets, table, nights):
    live, kinds = changesets.expected(table, nights)
    cols = sorted(kinds)
    return cols, [tuple(row[c] for c in cols) for row in live.values()]


def verify_table(changesets, table, nights, parquet_dir):
    """Returns (ok, digest of the exported table, message)."""
    cols, rows = table_rows(parquet_dir)
    ecols, erows = expected_rows(changesets, table, nights)
    got = _digest(rows)
    if cols != ecols:
        return False, got, "%s: columns %s, expected %s" % (table, cols, ecols)
    if got != _digest(erows):
        extra = len(set(rows) - set(erows))
        missing = len(set(erows) - set(rows))
        return False, got, "%s: %d unexpected rows, %d missing rows" % (
            table, extra, missing)
    return True, got, ""


class ReadOracle:
    """Expected answers of the read mix on `orders` after `nights` nights."""

    def __init__(self, changesets, nights, asof_night):
        self.live, _ = changesets.expected("orders", nights)
        self.asof, _ = changesets.expected("orders", asof_night)
        self.versions = nights + 1

    @staticmethod
    def _agg(rows):
        keys = [int(r["orderkey"]) for r in rows]
        return "%d:%d" % (len(keys), sum(keys))

    def answer(self, kind, args):
        if kind == "lookup":
            r = self.live.get(args[0])
            return "" if r is None else "%s:%s" % (r["orderkey"],
                                                   r["totalprice"])
        if kind == "keyset":
            return ",".join(sorted(set(k for k in args[0].split(",")
                                       if k in self.live)))
        if kind == "range":
            lo, hi = int(args[0]), int(args[1])
            return self._agg(r for r in self.live.values()
                             if lo <= int(r["orderkey"]) <= hi)
        if kind == "asof":
            return self._agg(self.asof.values())
        if kind == "history":
            return str(self.versions)
        if kind == "scan":
            groups = {}
            for r in self.live.values():
                n, s = groups.get(r["orderstatus"], (0, 0))
                groups[r["orderstatus"]] = (n + 1, s + int(r["orderkey"]))
            return ",".join("%s:%d:%d" % (k, n, s)
                            for k, (n, s) in sorted(groups.items()))
        raise ValueError(kind)
