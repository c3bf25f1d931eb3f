"""Seeded Alma publish drops and an independent model of the warehouse
they should produce.

A :class:`Catalog` is the source system: bibs with holdings, items,
constituent-part links and per-entity update times. Drops are structured
:class:`Drop` values drawn from it, rendered to tar.gz MARC XML (plus a
``delete`` manifest) with ``sources.marclib.to_marcxml``. The
:class:`Warehouse` applies a drop with plain Python dictionaries, following
the documented pipeline semantics (last-writer-wins upsert, stale-holding
and stale-item anti-joins, manifest deletes with holding→item cascade, CDC
history, appended error rows). It shares no code with the Spark program, so
a check against it is an end-to-end output check.
"""

from __future__ import annotations

import io
import os
import random
import tarfile
from collections import Counter
from dataclasses import dataclass, field
from datetime import datetime, timedelta

SUFFIX = "8651"          # an institution suffix accepted by the split
_EPOCH = datetime(2020, 1, 6, 10, 0, 0)
LOCATIONS = [("LIB%d" % i, "LOC%d" % j) for i in range(4) for j in range(3)]


def stamp(tick: int) -> str:
    """Tick → publish timestamp string. Ticks map to 10:00–10:16 local time
    on distinct days, clear of any DST transition, so the order of ticks
    is the order of the parsed UTC timestamps."""
    t = _EPOCH + timedelta(days=tick // 1000, seconds=tick % 1000)
    return t.strftime("%Y-%m-%d %H:%M:%S")


@dataclass
class Item:
    pid: str
    ts: int


@dataclass
class Holding:
    hid: str
    ts: int
    loc: tuple[str, str]
    items: list[Item] = field(default_factory=list)


@dataclass
class Bib:
    mms_id: str
    ts: int
    title: str
    holdings: list[Holding] = field(default_factory=list)
    parts: list[str] = field(default_factory=list)


@dataclass
class Drop:
    """One publish drop: files of bib records (a bib may sit in two files),
    invalid records routed to the error table, and delete-manifest entries
    ``(mms_id, holding_id | None)``."""
    files: list[list[Bib]]
    bad_records: list[dict]
    deletes: list[tuple[str, str | None]]

    @property
    def n_records(self) -> int:
        return sum(len(f) for f in self.files) + len(self.bad_records)


_WORDS = ("data", "library", "history", "catalog", "river", "music", "atlas",
          "garden", "letters", "science", "voyage", "archive", "poems",
          "city", "north", "studies", "journal", "notes", "papers", "world")


class Catalog:
    """The source system's current records, evolving drop by drop."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)
        self.bibs: dict[str, Bib] = {}
        self._next = {"bib": 0, "hold": 0, "item": 0}
        self.tick = 0

    def _id(self, kind: str, prefix: str) -> str:
        n = self._next[kind]
        self._next[kind] = n + 1
        return f"{prefix}{n:07d}{SUFFIX}"

    def _now(self) -> int:
        self.tick += 1
        return self.tick

    def _new_holding(self) -> Holding:
        h = Holding(self._id("hold", "22"), self._now(),
                    self.rng.choice(LOCATIONS))
        for _ in range(self.rng.choice((0, 1, 1, 2, 3))):
            h.items.append(Item(self._id("item", "23"), self._now()))
        return h

    def new_bib(self) -> Bib:
        r = self.rng
        b = Bib(self._id("bib", "99"), self._now(),
                " ".join(r.choice(_WORDS) for _ in range(r.randint(2, 6))))
        b.holdings = [self._new_holding()
                      for _ in range(r.choice((1, 1, 1, 2, 2, 3)))]
        if self.bibs and r.random() < 0.2:
            b.parts = r.sample(sorted(self.bibs), 1)
        self.bibs[b.mms_id] = b
        return b

    def _touch(self, b: Bib) -> None:
        """An edit in the source system: newer times on the bib and on some
        holdings and items; sometimes a holding or an item goes away, or an
        item or holding is added."""
        r = self.rng
        b.ts = self._now()
        b.title = b.title + " " + r.choice(_WORDS)
        if len(b.holdings) > 1 and r.random() < 0.25:
            b.holdings.pop(r.randrange(len(b.holdings)))
        for h in b.holdings:
            if r.random() < 0.6:
                h.ts = self._now()
            if h.items and r.random() < 0.2:
                h.items.pop(r.randrange(len(h.items)))
            for it in h.items:
                if r.random() < 0.5:
                    it.ts = self._now()
            if r.random() < 0.15:
                h.items.append(Item(self._id("item", "23"), self._now()))
        if r.random() < 0.1:
            b.holdings.append(self._new_holding())

    def full_drop(self, n_bibs: int, n_files: int) -> Drop:
        """Initial load: every bib once, split over ``n_files`` files."""
        bibs = [self.new_bib() for _ in range(n_bibs)]
        files = [bibs[i::n_files] for i in range(n_files)]
        return Drop(files, [], [])

    def incremental_drop(self, n_bibs: int, n_files: int) -> Drop:
        """Nightly drop of about ``n_bibs`` records: newer-time updates,
        unchanged republishes (the temporal guard must hold them), new
        bibs, removed holdings and items, cross-file duplicates, invalid
        records and a delete manifest. The proportions below are assumed,
        not taken from a profile of real drops."""
        r = self.rng
        live = sorted(self.bibs)
        n_upd = n_bibs * 5 // 10
        n_same = n_bibs // 10
        n_new = n_bibs - n_upd - n_same
        picked = r.sample(live, n_upd + n_same + max(2, n_bibs // 20))
        upd, same = picked[:n_upd], picked[n_upd:n_upd + n_same]
        doomed = picked[n_upd + n_same:]
        for m in upd:
            self._touch(self.bibs[m])
        out = [self.bibs[m] for m in upd + same]
        out += [self.new_bib() for _ in range(n_new)]
        r.shuffle(out)
        files = [out[i::n_files] for i in range(n_files)]
        # cross-file duplicates: identical copies of a few records
        for k in r.sample(range(len(out)), max(1, n_bibs // 25)):
            other = (k % n_files + 1 + r.randrange(max(1, n_files - 1)))
            files[other % n_files].append(out[k])
        deletes = []
        for m in doomed:
            b = self.bibs.pop(m)
            hid = b.holdings[0].hid if r.random() < 0.7 else None
            deletes.append((m, hid))
        bad = [self._bad_record(k) for k in range(max(2, n_bibs // 30))]
        return Drop(files, bad, deletes)

    def _bad_record(self, k: int) -> dict:
        """Invariant violations the split routes to ``errors``: an 852 with
        no control-field group, or a record without 001."""
        hid = f"22{9000000 + self.rng.randrange(999999):07d}{SUFFIX}"
        rec = {"mms_id": None, "leader": "00000cam a2200000 a 4500",
               "control_fields": [{"tag": "005", "data": "20240101120000.0"}],
               "fields": [_df("852", ("8", hid), ("b", "LIB0"),
                              ("c", "LOC0"))]}
        if k % 2 == 0:
            mms = f"99{8000000 + self.rng.randrange(999999):07d}{SUFFIX}"
            rec["mms_id"] = mms
            rec["control_fields"].insert(0, {"tag": "001", "data": mms})
        return rec


def _df(tag: str, *subs: tuple[str, str]) -> dict:
    return {"tag": tag, "ind1": " ", "ind2": " ",
            "subfields": [{"code": c, "value": v} for c, v in subs]}


def render(b: Bib) -> dict:
    """Bib → publish record dict (the shape ``marclib.to_marcxml`` takes):
    each holding is a control-field group (005, 003, leader 009) zipped
    with its 852, an ``HLD`` field carrying its dates and ``ITM`` fields
    for its items."""
    cfs = [{"tag": "005", "data": "20240101120000.0"},
           {"tag": "001", "data": b.mms_id},
           {"tag": "008", "data": "200101s2020    ctua          000 0 eng d"}]
    fields = [
        _df("245", ("a", b.title)),
        _df("100", ("a", "Author, " + b.title.split()[0])),
        _df("260", ("a", "New Haven :"), ("b", "Press,"), ("c", "2020.")),
        _df("035", ("a", "(OCoLC)%s" % b.mms_id[2:9])),
        _df("BIB", ("a", "false"), ("1", stamp(0)),
            ("2", stamp(b.ts) + " US/Eastern")),
    ]
    fields += [_df("774", ("w", p)) for p in b.parts]
    for h in b.holdings:
        cfs += [{"tag": "005", "data": "20240102120000.0"},
                {"tag": "003", "data": "2401025u    8   4001uueng0000000"},
                {"tag": "009", "data": "00000nx  a22000001n 4500"}]
        lib, loc = h.loc
        fields.append(_df("852", ("8", h.hid), ("b", lib), ("c", loc),
                          ("h", "QA76")))
        fields.append(_df("HLD", ("8", h.hid), ("1", stamp(0)),
                          ("2", stamp(h.ts))))
        for it in h.items:
            fields.append(_df("ITM", ("0", h.hid), ("2", it.pid),
                              ("1", "B" + it.pid), ("h", lib), ("s", loc),
                              ("i", lib), ("t", loc), ("x", "1"),
                              ("r", stamp(it.ts))))
    return {"mms_id": b.mms_id, "leader": "00000cam a2200000 a 4500",
            "control_fields": cfs, "fields": fields}


def _tar_gz(xml: bytes) -> bytes:
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w:gz") as tar:
        info = tarfile.TarInfo("publish.xml")
        info.size = len(xml)
        tar.addfile(info, io.BytesIO(xml))
    return buf.getvalue()


def render_files(drop: Drop, tag: str) -> dict[str, bytes]:
    """Drop → {file name: bytes}: one tar.gz MARC XML collection per file
    (invalid records ride in the first file) and one delete manifest."""
    from alma_publish_to_marc_spark.sources import marclib

    def collection(recs: list[dict]) -> bytes:
        body = "".join(marclib.to_marcxml(r, namespace=False) for r in recs)
        return ('<collection xmlns="http://www.loc.gov/MARC21/slim">'
                + body + "</collection>").encode()

    out = {}
    for i, f in enumerate(drop.files):
        recs = [render(b) for b in f]
        if i == 0:
            recs += drop.bad_records
        out[f"incremental-{tag}_new_{i + 1}.tar.gz"] = _tar_gz(collection(recs))
    if drop.deletes:
        recs = []
        for m, hid in drop.deletes:
            fields = [_df("852", ("8", hid), ("b", "LIB0"))] if hid else []
            recs.append({"mms_id": m, "leader": "00000dam a2200000 a 4500",
                         "control_fields": [{"tag": "001", "data": m}],
                         "fields": fields})
        out[f"incremental-{tag}_delete_1.tar.gz"] = _tar_gz(collection(recs))
    return out


def land(files: dict[str, bytes], directory: str) -> int:
    """Write a rendered drop into a fresh directory; returns its bytes."""
    os.makedirs(directory)
    for name, data in files.items():
        with open(os.path.join(directory, name), "wb") as fh:
            fh.write(data)
    return sum(len(d) for d in files.values())


class Warehouse:
    """Expected warehouse contents, applied drop by drop."""

    def __init__(self) -> None:
        self.bibs: dict[str, list[int]] = {}        # mms → [ts, version]
        self.holdings: dict[str, list] = {}          # hid → [mms, ts, ver]
        self.items: dict[str, list] = {}             # pid → [hid, ts, ver]
        self.parts: dict[str, set[str]] = {}         # mms → part mms ids
        self.deleted: Counter = Counter()            # record_type → rows
        self.errors = 0

    def copy(self) -> "Warehouse":
        w = Warehouse()
        w.bibs = {k: list(v) for k, v in self.bibs.items()}
        w.holdings = {k: list(v) for k, v in self.holdings.items()}
        w.items = {k: list(v) for k, v in self.items.items()}
        w.parts = {k: set(v) for k, v in self.parts.items()}
        w.deleted = Counter(self.deleted)
        w.errors = self.errors
        return w

    @staticmethod
    def _upsert(table: dict, key: str, ts: int, head: list) -> None:
        row = table.get(key)
        if row is None:
            table[key] = head + [ts, 1]
        elif ts > row[-2]:
            table[key] = head + [ts, row[-1] + 1]

    def _drop_items_of(self, hid: str) -> None:
        for pid in [p for p, r in self.items.items() if r[0] == hid]:
            del self.items[pid]
            self.deleted["item"] += 1

    def apply(self, drop: Drop) -> None:
        pub = {b.mms_id: b for f in drop.files for b in f}
        in_h = {h.hid: (m, h) for m, b in pub.items() for h in b.holdings}
        in_i = {it.pid: (h.hid, it) for _, h in in_h.values()
                for it in h.items}
        # stale holdings of republished bibs, cascading to their items
        for hid in [k for k, r in self.holdings.items()
                    if r[0] in pub and k not in in_h]:
            del self.holdings[hid]
            self.deleted["holding"] += 1
            self._drop_items_of(hid)
        # stale items of republished holdings
        for pid in [p for p, r in self.items.items()
                    if r[0] in in_h and p not in in_i]:
            del self.items[pid]
            self.deleted["item"] += 1
        for m, b in pub.items():
            self._upsert(self.bibs, m, b.ts, [])
            self.parts[m] = set(b.parts)
        for hid, (m, h) in in_h.items():
            self._upsert(self.holdings, hid, h.ts, [m])
        for pid, (hid, it) in in_i.items():
            self._upsert(self.items, pid, it.ts, [hid])
        # delete manifest: bibs, then holdings cascading to items
        for m in {m for m, _ in drop.deletes}:
            if self.bibs.pop(m, None) is not None:
                self.deleted["bib"] += 1
        for hid in {h for _, h in drop.deletes if h}:
            if self.holdings.pop(hid, None) is not None:
                self.deleted["holding"] += 1
            self._drop_items_of(hid)
        self.errors += len(drop.bad_records)


def check_warehouse(expected: Warehouse, warehouse_dir: str) -> list[str]:
    """Compare the parquet warehouse with the model: row counts, key sets,
    ``version`` per key, bib_part edges, history rows by type and error
    rows. Reads with pyarrow, so the check starts no Spark job."""
    import pyarrow.parquet as pq

    def read(name: str, cols: list[str]) -> list[tuple]:
        path = os.path.join(warehouse_dir, name)
        if not os.path.isdir(path):
            return []
        t = pq.read_table(path, columns=cols).to_pydict()
        return list(zip(*(t[c] for c in cols)))

    problems = []

    def same(name: str, got, want) -> None:
        if got != want:
            extra = len(got) if hasattr(got, "__len__") else got
            problems.append(f"{name}: got {extra} entries, "
                            f"want {len(want) if hasattr(want, '__len__') else want}"
                            f"; first diff {_first_diff(got, want)}")

    for name, key, table in (("bib_brief", "mms_id", expected.bibs),
                             ("holding_brief", "holding_id", expected.holdings),
                             ("item", "pid", expected.items)):
        rows = read(name, [key, "version"])
        if len(rows) != len(table):
            problems.append(f"{name}: {len(rows)} rows, want {len(table)}")
        same(f"{name}.version", dict(rows),
             {k: r[-1] for k, r in table.items()})
    same("bib_part", sorted(read("bib_part", ["mms_id", "part_mms_id"])),
         sorted((m, p) for m, ps in expected.parts.items() for p in ps))
    same("deleted_record", Counter(r[0] for r in
                                   read("deleted_record", ["record_type"])),
         +expected.deleted)
    same("errors", len(read("errors", ["error"])), expected.errors)
    return problems


def _first_diff(got, want):
    if isinstance(got, dict) and isinstance(want, dict):
        for k in sorted(set(got) | set(want)):
            if got.get(k) != want.get(k):
                return (k, got.get(k), want.get(k))
    if isinstance(got, list) and isinstance(want, list):
        for a, b in zip(got, want):
            if a != b:
                return (a, b)
    return None
