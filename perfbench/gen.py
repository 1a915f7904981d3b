"""Seeded generator of bc2adls-shaped nightly change-sets.

The rows follow the TPC-H sf0.1 `orders` and `lineitem` schemas (column set
and value domains), scaled by a row count.  Each table becomes one bc2adls
export folder: Dynamics-style suffixed column names (`OrderKey-1`), a
`$Company` column, the four system columns, one pair of columns that collide
after normalization, zero-GUID tombstone rows, and one schema-drift night.

Night 0 is the first full export. For `orders`, night k >= 1 carries ~2%
updates, 0.5% inserts and 0.2% tombstones of the table; `lineitem` is a quiet
table that gets no file after night 0, so each night only lists its folder.
Each night's files are stamped with an explicit mtime one hour after the
previous night's, so a file watermark sees the nights in order.

Next to the CSV files the generator keeps its own bookkeeping: the expected
warehouse content after any number of nights, in the canonical text form that
`check.py` compares against.  Nothing here uses the program under test.
"""

import csv
import datetime as dt
import os
import random

ZERO_GUID = "{00000000-0000-0000-0000-000000000000}"
COMPANY = "CRONUS"
BASE_MTIME = 1_750_000_000  # night 0 file mtime, epoch seconds
DRIFT_NIGHT = 2

SYSTEM_HEADER = [
    ("systemId-2000000000", "systemid", "guid"),
    ("SystemCreatedAt-2000000001", "systemcreatedat", "ts"),
    ("SystemCreatedBy-2000000002", "systemcreatedby", "guid"),
    ("SystemModifiedAt-2000000003", "systemmodifiedat", "ts"),
    ("SystemModifiedBy-2000000004", "systemmodifiedby", "guid"),
    ("$Company", "_company", "str"),
]

# (header, warehouse column, kind); kind "dup" columns collide after
# normalization and are dropped by the pipeline.
TABLES = {
    "orders": {
        "folder": "Orders",
        "cols": [
            ("OrderKey-1", "orderkey", "int"),
            ("CustKey-2", "custkey", "int"),
            ("OrderStatus-3", "orderstatus", "str"),
            ("TotalPrice-4", "totalprice", "double"),
            ("OrderDate-5", "orderdate", "date"),
            ("OrderPriority-6", "orderpriority", "str"),
            ("Clerk-7", "clerk", "str"),
            ("ShipPriority-8", "shippriority", "int"),
            ("Comment-9", "comment", "dup"),
            ("COMMENT-10", "comment", "dup"),
        ],
        "drift": ("PromoCode-11", "promocode", "str"),
        "nightly": True,
    },
    "lineitem": {
        "folder": "Line-Item",
        "cols": [
            ("OrderKey-1", "orderkey", "int"),
            ("PartKey-2", "partkey", "int"),
            ("SuppKey-3", "suppkey", "int"),
            ("LineNumber-4", "linenumber", "int"),
            ("Quantity-5", "quantity", "int"),
            ("ExtendedPrice-6", "extendedprice", "double"),
            ("Discount-7", "discount", "double"),
            ("Tax-8", "tax", "double"),
            ("ReturnFlag-9", "returnflag", "str"),
            ("LineStatus-10", "linestatus", "str"),
            ("ShipDate-11", "shipdate", "date"),
            ("CommitDate-12", "commitdate", "date"),
            ("ReceiptDate-13", "receiptdate", "date"),
            ("ShipInstruct-14", "shipinstruct", "str"),
            ("ShipMode-15", "shipmode", "str"),
            ("Comment-16", "comment", "str"),
        ],
        "drift": None,
        "nightly": False,
    },
}

WORDS = ("furiously special deposits sleep quickly final requests haggle "
         "blithely ironic packages wake carefully regular accounts nag "
         "slyly pending theodolites integrate express pinto beans").split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
INSTRUCT = ["DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN"]
MODES = ["REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB"]
DAY0 = dt.date(1992, 1, 1)
T0 = dt.datetime(2024, 1, 1)
NIGHT_T0 = dt.datetime(2024, 7, 1)


def _guid(rng):
    h = "%032X" % rng.getrandbits(128)
    return "{%s-%s-%s-%s-%s}" % (h[:8], h[8:12], h[12:16], h[16:20], h[20:])


def _ts(t):
    return t.strftime("%Y-%m-%d %H:%M:%S")


def _date(rng, lo=0, span=2400):
    return (DAY0 + dt.timedelta(days=lo + rng.randrange(span))).isoformat()


def _comment(rng):
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(2, 6)))


def _values(table, rng, serial, orders_n):
    """Business-column cells of one fresh row (CSV text)."""
    if table == "orders":
        return {
            "orderkey": str(serial + 1),
            "custkey": str(rng.randint(1, 15000)),
            "orderstatus": rng.choice("FOP"),
            "totalprice": "%.2f" % (rng.randint(90000, 50000000) / 100),
            "orderdate": _date(rng),
            "orderpriority": rng.choice(PRIORITIES),
            "clerk": "Clerk#%09d" % rng.randint(1, 1000),
            "shippriority": "0",
            "comment": _comment(rng),
        }
    ship = rng.randrange(2400)
    return {
        "orderkey": str(serial // 4 % orders_n + 1),
        "partkey": str(rng.randint(1, 20000)),
        "suppkey": str(rng.randint(1, 1000)),
        "linenumber": str(serial % 4 + 1 + 4 * (serial // (4 * orders_n))),
        "quantity": str(rng.randint(1, 50)),
        "extendedprice": "%.2f" % (rng.randint(90000, 10000000) / 100),
        "discount": "%.2f" % (rng.randint(0, 10) / 100),
        "tax": "%.2f" % (rng.randint(0, 8) / 100),
        "returnflag": rng.choice("ANR"),
        "linestatus": rng.choice("OF"),
        "shipdate": _date(rng, ship, 1),
        "commitdate": _date(rng, ship + rng.randint(-30, 30), 1),
        "receiptdate": _date(rng, ship + rng.randint(1, 30), 1),
        "shipinstruct": rng.choice(INSTRUCT),
        "shipmode": rng.choice(MODES),
        "comment": _comment(rng),
    }


def _update(table, rng, old):
    """Business cells of a new version of an existing row."""
    new = dict(old)
    if table == "orders":
        new["orderstatus"] = rng.choice("FOP")
        new["totalprice"] = "%.2f" % (rng.randint(90000, 50000000) / 100)
        new["orderpriority"] = rng.choice(PRIORITIES)
        new["clerk"] = "Clerk#%09d" % rng.randint(1, 1000)
    else:
        new["quantity"] = str(rng.randint(1, 50))
        new["extendedprice"] = "%.2f" % (rng.randint(90000, 10000000) / 100)
        new["linestatus"] = rng.choice("OF")
    new["comment"] = _comment(rng)
    return new


def canonical(kind, cell):
    """A CSV cell as the warehouse stores it, in check.py's text form."""
    if cell is None or cell == "":
        return None
    if kind == "date":
        return cell + " 00:00:00"
    return cell


class LiveSet:
    """The live rows of a table: latest-wins by `systemmodifiedat`, and a
    zero-GUID tombstone deletes its key."""

    def __init__(self):
        self.rows = {}  # systemid -> latest row (dict of cells)
        self.keys = []  # live keys, for sampling
        self.pos = {}  # systemid -> index in keys

    def apply(self, row):
        key = row["systemid"]
        cur = self.rows.get(key)
        if row["systemmodifiedat"] is None:
            if cur is not None:
                del self.rows[key]
                i = self.pos.pop(key)
                last = self.keys.pop()
                if last != key:
                    self.keys[i] = last
                    self.pos[last] = i
            return
        if cur is None:
            self.pos[key] = len(self.keys)
            self.keys.append(key)
        if cur is None or cur["systemmodifiedat"] < row["systemmodifiedat"]:
            self.rows[key] = row


class Table:
    """One folder's change-sets plus the bookkeeping of its expected state."""

    def __init__(self, name, rows, rng, orders_n):
        spec = TABLES[name]
        self.name = name
        self.folder = spec["folder"]
        self.cols = spec["cols"]
        self.drift = spec["drift"]
        self.nightly = spec["nightly"]
        self.rng = rng
        self.orders_n = orders_n
        self.serial = 0
        self.users = [_guid(rng) for _ in range(20)]
        self.live = LiveSet()
        self.nights = []  # per night: list of row dicts in file order
        self.size = rows

    def _fresh(self, created, modified):
        row = _values(self.name, self.rng, self.serial, self.orders_n)
        self.serial += 1
        user = self.rng.choice(self.users)
        row.update({
            "systemid": _guid(self.rng),
            "systemcreatedat": _ts(created),
            "systemcreatedby": user,
            "systemmodifiedat": _ts(modified),
            "systemmodifiedby": user,
            "_company": COMPANY,
        })
        return row

    def full_export(self):
        rng = self.rng
        out = []
        for _ in range(self.size):
            created = T0 + dt.timedelta(seconds=rng.randrange(180 * 86400))
            row = self._fresh(created, created)
            if rng.random() < 0.01:
                # an older version of the same key in the same export
                older = dict(row)
                row = dict(row)
                row.update(_update(self.name, rng, row))
                row["systemmodifiedat"] = _ts(
                    created + dt.timedelta(seconds=rng.randint(60, 86400)))
                out.append(older)
            out.append(row)
        rng.shuffle(out)
        self.nights.append(out)
        for row in out:
            self.live.apply(row)

    def change_set(self, night):
        if not self.nightly:
            self.nights.append([])
            return
        rng = self.rng
        # two days per night: a late in-night version never outranks the
        # next night's changes
        base = NIGHT_T0 + dt.timedelta(days=2 * night)
        n_upd = max(1, self.size * 2 // 100)
        n_ins = max(1, self.size * 5 // 1000)
        n_del = max(1, self.size * 2 // 1000)
        picked = rng.sample(range(len(self.live.keys)), n_upd + n_del)
        keys = [self.live.keys[i] for i in picked]
        seconds = rng.sample(range(1, 86400), 2 * (n_upd + n_ins) + 1)
        out = []
        for key in keys[:n_upd]:
            old = self.live.rows[key]
            row = dict(old)
            row.update(_update(self.name, rng, old))
            row["systemmodifiedby"] = rng.choice(self.users)
            if rng.random() < 0.05:
                early = dict(row)
                early["systemmodifiedat"] = _ts(
                    base + dt.timedelta(seconds=seconds.pop()))
                out.append(early)
                row["systemmodifiedat"] = _ts(
                    base + dt.timedelta(seconds=86400 + seconds.pop()))
            else:
                row["systemmodifiedat"] = _ts(
                    base + dt.timedelta(seconds=seconds.pop()))
            out.append(row)
        for _ in range(n_ins):
            t = base + dt.timedelta(seconds=seconds.pop())
            out.append(self._fresh(t, t))
        for key in keys[n_upd:]:
            out.append({"systemid": key, "systemcreatedat": None,
                        "systemcreatedby": ZERO_GUID,
                        "systemmodifiedat": None,
                        "systemmodifiedby": ZERO_GUID,
                        "_company": COMPANY})
        rng.shuffle(out)
        if self.drift is not None:
            # a night without the drift column carries no value for it,
            # even for rows last written by the drift night
            for row in out:
                row.pop(self.drift[1], None)
                if night == DRIFT_NIGHT and row["systemmodifiedat"] is not None:
                    row[self.drift[1]] = "PROMO-%04d" % rng.randrange(10000)
        self.nights.append(out)
        for row in out:
            self.live.apply(row)

    def header(self, night):
        cols = SYSTEM_HEADER + self.cols
        if self.drift is not None and night == DRIFT_NIGHT:
            cols = cols + [self.drift]
        return cols

    def write_night(self, night, root):
        """Writes night `night`'s file, if any; returns (rows, bytes)."""
        rows = self.nights[night]
        if not rows:
            return 0, 0
        cols = self.header(night)
        folder = os.path.join(root, "night%03d" % night, self.folder)
        os.makedirs(folder, exist_ok=True)
        path = os.path.join(folder, "part-%03d-00.csv" % night)
        with open(path, "w", newline="") as f:
            w = csv.writer(f, lineterminator="\n")
            w.writerow([c[0] for c in cols])
            for row in rows:
                w.writerow(["" if row.get(c[1]) is None else row[c[1]]
                            for c in cols])
        mtime = BASE_MTIME + 3600 * night
        os.utime(path, (mtime, mtime))
        return len(rows), os.path.getsize(path)

    def schema(self, nights_applied):
        """Warehouse columns -> kind after `nights_applied` nights."""
        kinds = {c[1]: c[2] for c in SYSTEM_HEADER + self.cols
                 if c[2] != "dup"}
        if self.drift is not None and nights_applied >= DRIFT_NIGHT:
            kinds[self.drift[1]] = self.drift[2]
        return kinds


class ChangeSets:
    """All tables of one workload, generated deterministically from `seed`."""

    def __init__(self, seed, tables, nights):
        self.rng = random.Random(seed)
        self.tables = []
        orders_n = tables.get("orders", 1)
        for name, rows in tables.items():
            t = Table(name, rows, random.Random(self.rng.getrandbits(64)),
                      orders_n)
            t.full_export()
            for night in range(1, nights + 1):
                t.change_set(night)
            self.tables.append(t)
        self.nights = nights
        self._expected = {}

    def write(self, root):
        """Write every night's CSVs under `root`; returns per-night stats."""
        stats = []
        for night in range(self.nights + 1):
            rows = size = 0
            for t in self.tables:
                r, b = t.write_night(night, root)
                rows += r
                size += b
            stats.append((rows, size))
        return stats

    def expected(self, name, nights_applied):
        """Expected live rows of table `name` after nights 0..nights_applied,
        as {systemid: {column: canonical text or None}}, and the column
        kinds."""
        key = (name, nights_applied)
        if key not in self._expected:
            self._expected[key] = self._replay(name, nights_applied)
        return self._expected[key]

    def _replay(self, name, nights_applied):
        t = next(x for x in self.tables if x.name == name)
        replay = LiveSet()
        for night in range(nights_applied + 1):
            for row in t.nights[night]:
                replay.apply(row)
        kinds = t.schema(nights_applied)
        return {k: {c: canonical(kind, row.get(c)) for c, kind in kinds.items()}
                for k, row in replay.rows.items()}, kinds
