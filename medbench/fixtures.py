"""Deterministic benchmark inputs.

Every file is a pure function of (workload, seed, scale): the same arguments
give byte-identical files. The data is synthetic but TPC-H shaped, standing
in for the shipped test data the way the platform's own fake sources do:

* Opralog (`orders`-like): `Entries` keyed by `EntryId`, one `ChapterEntry`
  row per entry and up to four `MoreEntryColumns` EAV rows per entry
  (`lineitem`-like). The EAV key `(EntryId, AdditionalColumnId)` is unique
  by construction -- the upsert rejects duplicate merge-source keys -- and
  every timestamp lies after the 2017-04-25 Opralog epoch, which both the
  source cursor and the downtime staging model filter on.
* statusdisplay `cycles.json`: one user-time phase per cycle, covering all
  entry timestamps, so the downtime mart joins every fault to a cycle.
* accelerator_sharepoint CSVs: downtime rows dated before the first entry
  (the mart splices Opralog rows after the newest SharePoint fault) and an
  equipment mapping that leaves some equipment uncategorized.
* `events` slices for the commit storm (`events`-like schema).

Incremental Opralog rounds are generated as full source versions
`round_000`, `round_001`, ...: each round updates ~1% of the entries (new
comment, new lost time, fresh `LastChangedDate`) and adds ~0.5% new ones.
"""

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US = 1_000_000
DAY_US = 86_400 * US


def _ts(text):
    """Microseconds since the Unix epoch of an ISO date or datetime (UTC)."""
    return int(np.datetime64(text, "us").astype(np.int64))


EPOCH_US = _ts("2017-04-25")
FIRST_ENTRY_US = _ts("2018-01-01")
LAST_ENTRY_US = _ts("2023-06-30")
CHANGED_BASE_US = _ts("2024-01-01")
CYCLES_FROM_US = _ts("2017-12-01")
CYCLES_TO_US = _ts("2025-12-31")

EQUIPMENT = [f"Equip {k:02d}" for k in range(40)]
GROUPS = ["Vacuum", "Magnets", "RF", "Diagnostics", "Controls", "Cooling",
          "Power Supplies", "Targets"]
WORDS = ["beam", "trip", "magnet", "vacuum", "valve", "septum", "klystron",
         "pump", "interlock", "reset", "fault", "cooling", "water", "rf",
         "kicker", "timing", "restored", "investigating", "replaced"]

TS = pa.timestamp("us", tz="UTC")


def _write_parquet(table, path):
    # fixed writer options: pyarrow then writes the same bytes for the same table
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True)


def _comments(rng, n, tag):
    picks = rng.integers(0, len(WORDS), size=(n, 4))
    return [f"<p><b>{WORDS[a]}</b> {WORDS[b]} <i>{WORDS[c]}</i>&nbsp;{WORDS[d]} {tag}</p>"
            for a, b, c, d in picks]


class OpralogState:
    """The mutable Opralog source: entries plus their EAV rows."""

    def __init__(self, rng, n_entries):
        self.rng = rng
        n = n_entries
        self.entry_id = np.arange(1, n + 1, dtype=np.int32)
        self.entry_ts = np.sort(rng.integers(FIRST_ENTRY_US, LAST_ENTRY_US, size=n))
        self.last_changed = self.entry_ts + rng.integers(0, 30 * DAY_US, size=n)
        self.comment = _comments(rng, n, "r0")
        self.deleted = np.where(rng.random(n) < 0.02, "Y", "N")
        # one ChapterEntry per entry; ~5% live in another logbook
        self.principal = np.where(rng.random(n) < 0.05, 25, 24).astype(np.int32)
        self.equipment = rng.integers(0, len(EQUIPMENT), size=n)
        self.group = rng.integers(0, len(GROUPS), size=n)
        self.lost_time = np.round(rng.uniform(0.5, 240.0, size=n), 1)
        self.has_glc = rng.random(n) < 0.5
        self.glc = _comments(rng, n, "glc")

    def advance(self, round_no, update_frac, new_frac):
        rng = self.rng
        n = len(self.entry_id)
        stamp = CHANGED_BASE_US + round_no * 3_600 * US
        n_upd = max(1, int(round(n * update_frac)))
        upd = np.sort(rng.choice(n, size=n_upd, replace=False))
        self.last_changed[upd] = stamp + np.arange(n_upd) * US
        for i, c in zip(upd, _comments(rng, n_upd, f"r{round_no}")):
            self.comment[i] = c
        self.lost_time[upd] = np.round(rng.uniform(0.5, 240.0, size=n_upd), 1)

        n_new = max(1, int(round(n * new_frac)))
        new_ids = np.arange(n + 1, n + n_new + 1, dtype=np.int32)
        self.entry_id = np.concatenate([self.entry_id, new_ids])
        self.entry_ts = np.concatenate(
            [self.entry_ts, LAST_ENTRY_US + round_no * DAY_US + np.arange(n_new) * US])
        self.last_changed = np.concatenate(
            [self.last_changed, stamp + (n_upd + np.arange(n_new)) * US])
        self.comment += _comments(rng, n_new, f"r{round_no}")
        self.deleted = np.concatenate([self.deleted, np.full(n_new, "N")])
        self.principal = np.concatenate([self.principal, np.full(n_new, 24, np.int32)])
        self.equipment = np.concatenate(
            [self.equipment, rng.integers(0, len(EQUIPMENT), size=n_new)])
        self.group = np.concatenate([self.group, rng.integers(0, len(GROUPS), size=n_new)])
        self.lost_time = np.concatenate(
            [self.lost_time, np.round(rng.uniform(0.5, 240.0, size=n_new), 1)])
        self.has_glc = np.concatenate([self.has_glc, rng.random(n_new) < 0.5])
        self.glc += _comments(rng, n_new, "glc")

    def write(self, out_dir):
        os.makedirs(out_dir, exist_ok=True)
        n = len(self.entry_id)
        _write_parquet(pa.table({
            "LogbookId": pa.array([24, 25], pa.int32()),
            "LogbookName": ["MCR Running Log", "Beam Physics"]}),
            f"{out_dir}/Logbooks.parquet")
        _write_parquet(pa.table({
            "LogbookChapterNo": pa.array(range(1, 6), pa.int32()),
            "LogbookId": pa.array([24] * 5, pa.int32())}),
            f"{out_dir}/LogbookChapter.parquet")
        _write_parquet(pa.table({
            "AdditionalColumnId": pa.array([1, 2, 3, 4], pa.int32()),
            "ColTitle": ["Equipment", "Group", "Lost Time", "Group Leader comments"]}),
            f"{out_dir}/AdditionalColumns.parquet")
        _write_parquet(pa.table({
            "LogbookEntryId": pa.array(self.entry_id.astype(np.int64)),
            "EntryId": pa.array(self.entry_id),
            "PrincipalLogbook": pa.array(self.principal),
            "LogbookChapterNo": pa.array(1 + self.entry_id % 5, pa.int32()),
            "LogbookId": pa.array(np.full(n, 24, np.int32))}),
            f"{out_dir}/ChapterEntry.parquet")
        _write_parquet(pa.table({
            "EntryId": pa.array(self.entry_id),
            "EntryTimestamp": pa.array(self.entry_ts, TS),
            "LastChangedDate": pa.array(self.last_changed, TS),
            "AdditionalComment": pa.array(self.comment, pa.string()),
            "LogicallyDeleted": pa.array(self.deleted, pa.string())}),
            f"{out_dir}/Entries.parquet")
        # EAV rows in (EntryId, AdditionalColumnId) order; the key is unique
        ids = np.repeat(self.entry_id, 4)
        col = np.tile(np.arange(1, 5, dtype=np.int32), n)
        text = []
        num = []
        for i in range(n):
            text += [EQUIPMENT[self.equipment[i]], GROUPS[self.group[i]], None,
                     self.glc[i] if self.has_glc[i] else None]
            num += [None, None, float(self.lost_time[i]), None]
        keep = np.ones(4 * n, bool)
        keep[3::4] = self.has_glc  # absent Group Leader comments: no EAV row
        _write_parquet(pa.table({
            "EntryId": pa.array(ids[keep]),
            "AdditionalColumnId": pa.array(col[keep]),
            "ColData": pa.array([t for t, k in zip(text, keep) if k], pa.string()),
            "NumberValue": pa.array([v for v, k in zip(num, keep) if k], pa.float64())}),
            f"{out_dir}/MoreEntryColumns.parquet")


def write_statusdisplay(out_dir):
    """Quarterly cycles, one user-time phase each, covering every entry."""
    os.makedirs(out_dir, exist_ok=True)
    cycles = []
    start = CYCLES_FROM_US
    k = 0
    while start < CYCLES_TO_US:
        end = start + 91 * DAY_US
        year = str(np.datetime64(start, "us"))[:4]
        k += 1
        cycles.append({"label": f"{year}/{k}", "phases": [{
            "type": "user-time", "target": 1,
            "start": str(np.datetime64(start, "us")) + "Z",
            "end": str(np.datetime64(end - US, "us")) + "Z"}]})
        start = end
    with open(f"{out_dir}/cycles.json", "w") as f:
        json.dump(cycles, f, indent=1)


def write_sharepoint(rng, out_dir, rows=40):
    os.makedirs(out_dir, exist_ok=True)
    lines = ["Equipment,User Run,Downtime Minutesx,FaultDate,FaultTime,Group,"
             "Fault Description,Managerscomments"]
    days = np.sort(rng.integers(0, 200, size=rows))
    for i, d in enumerate(days):
        day = str(np.datetime64(_ts("2017-05-01") + int(d) * DAY_US, "us"))[:10]
        eq = EQUIPMENT[rng.integers(0, len(EQUIPMENT))]
        grp = GROUPS[rng.integers(0, len(GROUPS))]
        mins = round(float(rng.uniform(1, 120)), 1)
        lines.append(f"{eq},17/{1 + i % 4},{mins},{day},{8 + i % 10:02d}:15:00,"
                     f"{grp},Sheet fault {i},Checked {i}")
    with open(f"{out_dir}/Equipment downtime data 11_08_24.csv", "w") as f:
        f.write("\n".join(lines) + "\n")
    # the last five equipment names stay unmapped -> uncategorized mart rows
    mapping = [f"{e},{GROUPS[k % len(GROUPS)]}" for k, e in enumerate(EQUIPMENT[:-5])]
    with open(f"{out_dir}/EDR Equipment Mapping.csv", "w") as f:
        f.write("\n".join(mapping) + "\n")


def write_opralog_rounds(seed, out_dir, n_entries, rounds,
                         update_frac=0.01, new_frac=0.005):
    """Source versions round_000 (initial) .. round_{rounds} plus the side
    sources of the full job matrix. Returns the directory of each version."""
    rng = np.random.default_rng([seed, 1])
    state = OpralogState(rng, n_entries)
    dirs = []
    for r in range(rounds + 1):
        if r > 0:
            state.advance(r, update_frac, new_frac)
        d = f"{out_dir}/opralog/round_{r:03d}"
        state.write(d)
        dirs.append(d)
    write_statusdisplay(f"{out_dir}/statusdisplay")
    write_sharepoint(np.random.default_rng([seed, 2]), f"{out_dir}/accelerator_sharepoint")
    return dirs


def write_event_slices(seed, out_dir, slices, rows_per_slice):
    """`slices` parquet files of `events`-shaped rows with globally unique
    event ids; slice sizes vary +-50% around `rows_per_slice`."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    kinds = np.array(["view", "click", "search", "purchase", "share", "login",
                      "logout", "error"])
    next_id = 1
    t0 = _ts("2024-01-01")
    for s in range(slices):
        n = int(rng.integers(rows_per_slice // 2, rows_per_slice * 3 // 2 + 1))
        ids = np.arange(next_id, next_id + n, dtype=np.int64)
        next_id += n
        props = [f'{{"page":{p},"ab":"{a}"}}' for p, a in
                 zip(rng.integers(0, 500, size=n), rng.choice(["a", "b"], size=n))]
        _write_parquet(pa.table({
            "event_id": pa.array(ids),
            "ts": pa.array(t0 + ids * 7 * US + rng.integers(0, 7 * US, size=n), TS),
            "user_id": pa.array(rng.integers(1, 5_000, size=n).astype(np.int64)),
            "event_type": pa.array(kinds[rng.integers(0, len(kinds), size=n)]),
            "value": pa.array(np.round(rng.exponential(20.0, size=n), 2)),
            "props": pa.array(props, pa.string())}),
            f"{out_dir}/slice_{s:04d}.parquet")


def tree_digest(path):
    """Relative path -> file bytes, for byte-identity checks."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = fh.read()
    return out
