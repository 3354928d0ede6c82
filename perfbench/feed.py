"""Seeded trade-in feed generator and the key model that predicts what the
daily ETL must produce from it.

The generator writes one JSON-lines file per business day, shaped like the
reference's API payload: 41 string fields per record, timestamps in the five
accepted layouts with 0-9 fraction digits. Each day mixes new keys, late
updates of recent keys, keys whose TradeInDate moves to another day,
in-batch duplicates, malformed lines and unparseable dates.

The key model re-implements the reference SQL in plain Python -- staging
append, ROW_NUMBER dedup by TradeInDate, MERGE on SaleInvoiceID with audit
stamps, today's inserted/updated counts, and the staging DELETE -- without
calling the code under test. It yields the expected counts per run and an
order-independent digest of the expected target.
"""
import datetime as dt
import hashlib
import json
import os
import random
from decimal import Decimal
from zoneinfo import ZoneInfo

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

NY = ZoneInfo("America/New_York")
UTC = dt.timezone.utc
EPOCH = dt.datetime(1970, 1, 1, tzinfo=UTC)
NULL = "\\N"

# Staging-DDL column order (TradeInSchema.columns).
COLUMNS = [
    "SaleInvoiceID", "TradeInTransactionID", "InvoiceIDByStore",
    "InvoiceID", "TradeInStatus", "ItemID", "ManufacturerModel",
    "SerialNumber", "StoreName", "RegionName", "TradeInDate",
    "TradeInDateEST", "PhoneRebateAmount", "PromotionValue",
    "PreDeviceValueAmount", "PrePromotionValueAmount", "TrackingNumber",
    "OriginalTradeInvoiceID", "OrderNumber", "CreditApplicationNum",
    "LocationCode", "MasterOrderNumber", "SequenceNumber", "PromoValue",
    "OrganicPrice", "ComputedPrice", "TradeInMobileNumber", "SubmissionId",
    "TradeInEquipMake", "TradeInEquipCarrier", "DeviceSku",
    "TradeInDeviceId", "LobType", "OrderType", "PurchaseDeviceId",
    "TradeInAmount", "AmountUsed", "AmountPending", "PromoCompletion",
    "PostTime", "PostTimeEST", "ResponseTime", "ResponseTimeEST",
    "MobileNumber"]
TS_PAIRS = [("TradeInDate", "TradeInDateEST"), ("PostTime", "PostTimeEST"),
            ("ResponseTime", "ResponseTimeEST")]
EST_COLS = {est for _, est in TS_PAIRS}
EST_OF = dict(TS_PAIRS)
INDEX = {c: i for i, c in enumerate(COLUMNS)}
INT_COLS = {"SaleInvoiceID", "TradeInTransactionID", "ItemID", "SequenceNumber"}
DEC_COLS = {"PhoneRebateAmount", "PromotionValue", "PreDeviceValueAmount",
            "PrePromotionValueAmount", "PromoValue", "OrganicPrice",
            "ComputedPrice", "TradeInAmount", "AmountUsed", "AmountPending"}
DEC_ORDER = sorted(DEC_COLS)  # a fixed draw order, independent of hashing
TS_COLS = {"TradeInDate", "TradeInDateEST", "PostTime", "PostTimeEST",
           "ResponseTime", "ResponseTimeEST"}
# Target row = data columns, audit stamps, then the partition column.
TARGET_COLUMNS = COLUMNS + ["ETLRowInsertedEST", "ETLRowUpdatedEST", "TradeInDay"]

STATUSES = ["Completed", "Pending", "Cancelled", "Received", "Graded"]
MAKES = ["Apple", "Samsung", "Google", "Motorola", "OnePlus"]
CARRIERS = ["Verizon", "AT&T", "T-Mobile", "Sprint"]
REGIONS = ["Northeast", "Southeast", "Midwest", "Southwest", "West"]
GARBAGE_DATES = ["N/A", "not a date", "2026-13-45 99:99:99", "TBD", "--"]

RUN_HOUR = 6  # the reference's cron fires at 06:00


class Draw:
    """Uniform draws carved from one wide random integer per record."""
    __slots__ = ("x", "rng")

    def __init__(self, rng):
        self.rng = rng
        self.x = rng.getrandbits(1024)

    def __call__(self, m):
        if self.x < m << 16:
            self.x = self.rng.getrandbits(1024)
        self.x, r = divmod(self.x, m)
        return r


def _amount(b):
    """A money amount, mostly with two decimals, sometimes malformed."""
    r, v = b(100), b(150_000)
    if r < 3:
        return ("", "N/A")[b(2)]
    if r < 10:
        return "%d" % (v // 100)
    if r < 15:
        return "%d.%d" % (v // 100, v % 100 // 10)
    return "%d.%02d" % (v // 100, v % 100)


def run_time(day):
    """`now` of the run for business day `day`: that day at 06:00 UTC."""
    return dt.datetime(day.year, day.month, day.day, RUN_HOUR, tzinfo=UTC)


def micros(t):
    d = t - EPOCH
    return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds


def from_micros(us):
    return EPOCH + dt.timedelta(microseconds=us)


_DAY = 86_400_000_000
_HOUR = 3_600_000_000
_day_str = {}
_ny_offset = {}


def _date_str(day_index):
    d = _day_str.get(day_index)
    if d is None:
        d = _day_str[day_index] = from_micros(day_index * _DAY).strftime("%Y-%m-%d")
    return d


def _clock(us):
    """yyyy-MM-dd HH:mm:ss and the microsecond part of an instant."""
    day, rest = divmod(us, _DAY)
    secs, frac = divmod(rest, 1_000_000)
    h, rem = divmod(secs, 3600)
    return "%s %02d:%02d:%02d" % (_date_str(day), h, rem // 60, rem % 60), frac


def staging_ts(us):
    """Staging normal form, yyyy-MM-dd HH:mm:ss.SSSSSS."""
    text, frac = _clock(us)
    return "%s.%06d" % (text, frac)


def est_micros(us):
    """The EST wall clock of an instant at seconds precision, re-parsed as
    a UTC-session timestamp."""
    hour = us // _HOUR
    off = _ny_offset.get(hour)
    if off is None:
        delta = from_micros(hour * _HOUR).astimezone(NY).utcoffset()
        off = _ny_offset[hour] = int(delta.total_seconds()) * 1_000_000
    wall = us + off
    return wall - wall % 1_000_000


def est_string(us):
    """EST wall clock of an instant, yyyy-MM-dd HH:mm:ss."""
    return _clock(est_micros(us))[0]


def render_ts(rng, us):
    """One of the accepted timestamp layouts, exact to the microsecond."""
    text, micro = _clock(us)
    pick = rng.getrandbits(16)
    sep = " T"[pick % 3 != 0]
    zulu = "Z" if sep == "T" and pick & 8 else ""
    base = text[:10] + sep + text[11:]
    frac = "%06d" % micro
    digits = (0, 1, 3, 6, 7, 9)[(pick >> 4) % 6]
    if digits < 6 and frac[digits:] != "0" * (6 - digits):
        digits = 6
    if digits == 0:
        return base + zulu
    if digits <= 6:
        return base + "." + frac[:digits] + zulu
    # 7-9 digits: the parser truncates to microseconds
    extra = "%03d" % (pick >> 7)
    return base + "." + frac + extra[:digits - 6] + zulu


class Record:
    """One raw API record plus what the parser will make of its dates."""
    __slots__ = ("fields", "date_us", "post_us", "resp_us", "raw_line")

    def __init__(self, fields, date_us, post_us, resp_us):
        self.fields = fields      # raw field -> string, missing keys absent
        self.date_us = date_us    # parsed TradeInDate, None when garbage
        self.post_us = post_us    # parsed PostTime: micros, None, or "now"
        self.resp_us = resp_us
        self.raw_line = None


class Feed:
    """Seeded generator of daily batches over a growing key population."""

    def __init__(self, seed, rows_per_day):
        self.rng = random.Random(seed)
        self.rows_per_day = rows_per_day
        self.next_key = 100_000 + self.rng.randrange(1000)
        self.latest = {}        # key -> TradeInDate micros of its latest version
        self.used_dates = {}    # key -> set of TradeInDate micros emitted
        self.recent = []        # keys eligible for late updates, newest last
        self.all_keys = []      # keys eligible for moves

    def _unique_date(self, key, us):
        used = self.used_dates.setdefault(key, set())
        while us in used:
            us += 1
        used.add(us)
        return us

    def _record(self, key, date_us, garbage=False):
        b = Draw(self.rng)
        f = {
            "SaleInvoiceID": str(key),
            "TradeInTransactionID": str(1 + b(2_000_000)),
            "InvoiceIDByStore": "S%03d-%06d" % (key % 400, key % 999_983),
            "InvoiceID": "INV%d" % (key * 7 % 10_000_019),
            "TradeInStatus": STATUSES[b(5)],
            "ItemID": str(1 + b(90_000)) if b(100) else "N/A",
            "ManufacturerModel": "%s M%d" % (MAKES[b(5)], 1 + b(40)),
            "SerialNumber": "SN%012d" % b(10 ** 12),
            "StoreName": "Store %d" % (key % 400),
            "RegionName": REGIONS[key % 5],
            "TrackingNumber": "1Z%016d" % b(10 ** 16),
            "OriginalTradeInvoiceID": "INV%d" % b(10 ** 7) if b(5) == 0 else "",
            "OrderNumber": "ORD%d" % b(10 ** 8),
            "CreditApplicationNum": "CA%d" % b(10 ** 6),
            "LocationCode": "L%03d" % (key % 400),
            "MasterOrderNumber": "MO%d" % b(10 ** 8),
            "SequenceNumber": str(1 + b(49)),
            "TradeInMobileNumber": "555%07d" % b(10 ** 7),
            "SubmissionId": "%032x" % b(2 ** 128),
            "TradeInEquipMake": MAKES[b(5)],
            "TradeInEquipCarrier": CARRIERS[b(4)],
            "DeviceSku": "SKU%d" % b(10 ** 5),
            "TradeInDeviceId": "D%d" % b(10 ** 9),
            "LobType": ("Postpaid", "Prepaid")[b(2)],
            "OrderType": ("New", "Upgrade", "AAL")[b(3)],
            "PurchaseDeviceId": "P%d" % b(10 ** 9),
            "PromoCompletion": ("Y", "N", "")[b(3)],
            "MobileNumber": "555%07d" % b(10 ** 7),
        }
        for c in DEC_ORDER:
            f[c] = _amount(b)
        if garbage:
            f["TradeInDate"] = GARBAGE_DATES[b(len(GARBAGE_DATES))]
            parsed = None
        else:
            date_us = self._unique_date(key, date_us)
            f["TradeInDate"] = render_ts(self.rng, date_us)
            parsed = date_us
        side = []
        for name in ("PostTime", "ResponseTime"):
            r = b(100)
            if r < 4:        # missing
                side.append(None)
            elif r < 7:      # empty
                f[name] = ""
                side.append(None)
            elif r < 8:      # unparseable: the run stamps `now`
                f[name] = GARBAGE_DATES[b(len(GARBAGE_DATES))]
                side.append("now")
            else:
                us = date_us + (1 + b(7200)) * 1_000_000 + b(1_000_000)
                f[name] = render_ts(self.rng, us)
                side.append(us)
        # schema drift: optional fields go missing, unknown ones appear
        if b(50) == 0:
            f.pop("PromoCompletion")
        if b(50) == 0:
            f["LegacyChannel"] = "web"
        return Record(f, parsed, side[0], side[1])

    def day(self, day):
        """Records and raw lines of the batch fetched by the run of `day`:
        trade-ins from the previous day's 06:00 up to this run's 06:00.
        Every fault kind has a fixed count per day, so days cost alike."""
        rng = self.rng
        lo = micros(run_time(day)) - _DAY
        n = self.rows_per_day
        kinds = (["late"] * (n * 15 // 100) + ["moved"] * max(1, n // 200)
                 + ["garbage"] * max(1, n // 100))
        kinds += ["new"] * (n - len(kinds))
        rng.shuffle(kinds)
        recs = []
        for kind in kinds:
            if kind == "new" or not self.recent:
                key = self._new_key()
                rec = self._record(key, lo + rng.randrange(_DAY))
                self.all_keys.append(key)
                self.recent.append(key)
            elif kind == "late":
                # a newer version of a key from the last two days, same day
                key = self.recent[rng.randrange(max(0, len(self.recent) - 2 * n),
                                                len(self.recent))]
                prev = self.latest[key]
                us = prev + rng.randrange(1, 3600) * 1_000_000
                if us // _DAY != prev // _DAY:
                    us = prev + 1
                rec = self._record(key, us)
            elif kind == "moved":
                # a business-date correction by 1-3 days
                key = rng.choice(self.all_keys)
                shift = rng.choice([-1, 1]) * rng.randrange(1, 4)
                rec = self._record(key, self.latest[key] + shift * _DAY)
            else:
                rec = self._record(self._new_key(), lo + rng.randrange(_DAY), garbage=True)
            self.latest[int(rec.fields["SaleInvoiceID"])] = rec.date_us
            recs.append(rec)
        for rec in recs:
            rec.raw_line = json.dumps(rec.fields, separators=(",", ":"))
        lines = [rec.raw_line for rec in recs]
        # exact duplicate deliveries
        lines += [rec.raw_line for rec in rng.sample(recs, n * 3 // 100)]
        # superseded versions: an older copy of a key delivered in this batch
        dated = [rec for rec in recs if rec.date_us is not None]
        for rec in rng.sample(dated, n // 40):
            key = int(rec.fields["SaleInvoiceID"])
            stale = self._record(key, rec.date_us - rng.randrange(1, 600) * 1_000_000)
            self.latest[key] = rec.date_us  # the newer version stays the latest
            stale.raw_line = json.dumps(stale.fields, separators=(",", ":"))
            lines.append(stale.raw_line)
            recs.append(stale)
        rng.shuffle(lines)
        # malformed deliveries: truncated payloads
        bad = [src[: rng.randrange(10, len(src) - 5)]
               for src in rng.sample(lines, len(lines) // 100)]
        for b in bad:
            lines.insert(rng.randrange(len(lines) + 1), b)
        return recs, lines, len(bad)

    def _new_key(self):
        self.next_key += 1 + (self.rng.random() < 0.1)
        return self.next_key


def _canon_int(v):
    try:
        n = int(v)
    except (TypeError, ValueError):
        return NULL
    if str(n) != v.strip() or not -2 ** 31 <= n < 2 ** 31:
        return NULL
    return str(n)


def _canon_dec(v):
    """DECIMAL(18,2) rendering of a generated amount ("", "N/A" -> NULL;
    the generator never emits more than two fraction digits)."""
    if v is None or not v[:1].isdigit():
        return NULL
    whole, _, frac = v.partition(".")
    return "%d.%s" % (int(whole), (frac + "00")[:2])


class StagedRow:
    """A record as the staging table holds it after `stage(raw, now)`:
    `staging` is the all-string staging row, `target` the typed target
    cells it merges as (see `row_hash` for the cell rendering)."""
    __slots__ = ("key", "date_us", "staging", "target", "day", "now_us")

    def __init__(self, rec, now_us):
        f = rec.fields
        self.key = int(f["SaleInvoiceID"])
        self.now_us = now_us
        self.date_us = rec.date_us if rec.date_us is not None else now_us
        parsed = {"TradeInDate": self.date_us,
                  "PostTime": now_us if rec.post_us == "now" else rec.post_us,
                  "ResponseTime": now_us if rec.resp_us == "now" else rec.resp_us}
        vals = {}
        self.staging = [f.get(c) for c in COLUMNS]
        for c in COLUMNS:
            if c in EST_COLS:
                continue
            if c in parsed:
                us = parsed[c]
                vals[c] = NULL if us is None else str(us)
                est = EST_OF[c]
                vals[est] = NULL if us is None else str(est_micros(us))
                self.staging[INDEX[c]] = None if us is None else staging_ts(us)
                self.staging[INDEX[est]] = None if us is None else est_string(us)
            elif c in INT_COLS:
                vals[c] = _canon_int(f.get(c))
            elif c in DEC_COLS:
                vals[c] = _canon_dec(f.get(c))
            else:
                v = f.get(c)
                vals[c] = NULL if v is None else v
        self.target = [vals[c] for c in COLUMNS]
        self.day = _date_str(self.date_us // _DAY)


def row_hash(cells):
    return int(hashlib.md5("|".join(cells).encode()).hexdigest()[:15], 16)


class KeyModel:
    """Expected state of the staging table and the target after each run.

    The target is kept as key -> (ETLRowInsertedEST cell, row hash), which
    is all an update needs; `cells` holds the full rows this model wrote
    itself, so a history can be written out (see `write_target`)."""

    def __init__(self):
        self.staging = []     # StagedRow, retained across runs
        self.target = {}      # key -> (inserted stamp cell, hash)
        self.cells = {}       # key -> cells, for rows written by `run`
        self.digest = 0

    def run(self, records, now):
        now_us = micros(now)
        staged = self.staging + [StagedRow(r, now_us) for r in records]
        best = {}
        for s in staged:
            b = best.get(s.key)
            if b is None or s.date_us > b.date_us:
                best[s.key] = s
            elif s.date_us == b.date_us and s.target != b.target:
                raise ValueError("ambiguous dedup for key %d" % s.key)
        ins = upd = 0
        now_s = str(now_us)
        for key, s in best.items():
            old = self.target.get(key)
            if old is None:
                cells = s.target + [now_s, NULL, s.day]
                ins += 1
            else:
                cells = s.target + [old[0], now_s, s.day]
                self.digest -= old[1]
                upd += 1
            h = row_hash(cells)
            self.target[key] = (cells[-3], h)
            self.cells[key] = cells
            self.digest += h
        today = now.strftime("%Y-%m-%d")
        self.staging = [s for s in staged if s.day == today]
        return ins, upd

    def summary(self):
        return {"rows": len(self.target), "digest": str(self.digest)}


# ---------------------------------------------------------------- history

def _est_array(us):
    """`est_micros` of every instant in an int64 array."""
    hours = us // _HOUR
    uniq, inv = np.unique(hours, return_inverse=True)
    off = np.array([est_micros(int(h) * _HOUR) - int(h) * _HOUR for h in uniq],
                   dtype=np.int64)
    wall = us + off[inv]
    return wall - wall % 1_000_000


def _ts(us, null=None):
    return pa.array(us, pa.timestamp("us", tz="UTC"), mask=null)


def _str(prefix, values, width=0, null=None):
    s = pc.cast(pa.array(values), pa.string())
    if width:
        s = pc.utf8_lpad(s, width=width, padding="0")
    s = pc.binary_join_element_wise(prefix, s, "")
    return s if null is None else pc.if_else(pa.array(null), pa.scalar(None, pa.string()), s)


def _pick(rng, choices, n):
    return pa.array(np.array(choices, dtype=object)[rng.integers(0, len(choices), n)],
                    pa.string())


def _money(rng, n):
    """Amounts drawn as `_amount` draws them, as DECIMAL(18,2)."""
    kind, cents = rng.integers(0, 100, n), rng.integers(0, 150_000, n)
    cents = np.where(kind < 10, cents // 100 * 100,
                     np.where(kind < 15, cents // 10 * 10, cents))
    words = np.zeros((n, 2), dtype=np.int64)
    words[:, 0] = cents
    dec = pa.Array.from_buffers(pa.decimal128(18, 2), n, [None, pa.py_buffer(words.tobytes())])
    return pc.if_else(pa.array(kind >= 3), dec, pa.scalar(None, pa.decimal128(18, 2)))


def bulk_history(fd, model, first_day, days):
    """The target after `days` daily runs from `first_day`, drawn column by
    column rather than replayed record by record.

    Each run inserts the day's new keys (a fixed share with unparseable
    dates, which land on the run's own day). Late updates re-version about
    15% of keys within their day, stamped by a run up to two days later;
    moved keys shift their TradeInDate by 1-3 days at a later run. Fields
    follow the same distributions as `Feed._record`. The feed and the model
    are left as if they had produced these runs, so later days continue
    from them. Returns the target rows as an arrow table.
    """
    rng = np.random.default_rng(fd.rng.getrandbits(64))
    n = fd.rows_per_day
    per_day = n - n * 15 // 100 - max(1, n // 200)  # new and garbage-dated keys
    total = per_day * days
    day = np.repeat(np.arange(days), per_day)
    runs = np.array([micros(run_time(first_day + dt.timedelta(days=d)))
                     for d in range(days)], dtype=np.int64)
    run_us = runs[day]
    keys = fd.next_key + np.cumsum(1 + (rng.random(total) < 0.1))
    fd.next_key = int(keys[-1])

    garbage = np.zeros((days, per_day), dtype=bool)
    slots = rng.random((days, per_day)).argsort(axis=1)[:, :max(1, n // 100)]
    garbage[np.arange(days)[:, None], slots] = True
    garbage = garbage.ravel()
    date = np.where(garbage, run_us, run_us - _DAY + rng.integers(0, _DAY, total))
    inserted = run_us
    updated = np.full(total, -1, dtype=np.int64)

    # late updates: a later version within the same day, from a run 0-2 days on
    lag = np.minimum(rng.integers(0, 3, total), days - 1 - day)
    late = (rng.random(total) < 0.15) & ~garbage
    bumped = date + rng.integers(1, 3600, total) * 1_000_000
    bumped = np.where(bumped // _DAY == date // _DAY, bumped, date + 1)
    date = np.where(late, bumped, date)
    updated = np.where(late & (lag > 0), run_us + lag * _DAY, updated)
    # moved keys: a business-date correction of an earlier key
    for d in range(1, days):
        for i in rng.integers(0, per_day * d, max(1, n // 200)):
            if not garbage[i]:
                date[i] += int(rng.choice([-1, 1]) * rng.integers(1, 4)) * _DAY
                updated[i] = runs[d]

    # PostTime / ResponseTime: missing, empty, unparseable (the run's now), or
    # up to two hours after the trade-in
    stamped = np.where(updated >= 0, updated, inserted)
    side = {}
    for name in ("PostTime", "ResponseTime"):
        r = rng.integers(0, 100, total)
        us = np.where(r == 7, stamped, date + rng.integers(1, 7201, total) * 1_000_000
                      + rng.integers(0, 1_000_000, total))
        side[name] = (us, r < 7)

    k = keys
    cols = {
        "SaleInvoiceID": pa.array(k, pa.int32()),
        "TradeInTransactionID": pa.array(1 + rng.integers(0, 2_000_000, total), pa.int32()),
        "InvoiceIDByStore": pc.binary_join_element_wise(
            _str("S", k % 400, 3), _str("", k % 999_983, 6), "-"),
        "InvoiceID": _str("INV", k * 7 % 10_000_019),
        "TradeInStatus": _pick(rng, STATUSES, total),
        "ItemID": pa.array(1 + rng.integers(0, 90_000, total), pa.int32(),
                           mask=rng.random(total) < 0.01),
        "ManufacturerModel": pc.binary_join_element_wise(
            _pick(rng, MAKES, total), _str("M", 1 + rng.integers(0, 40, total)), " "),
        "SerialNumber": _str("SN", rng.integers(0, 10 ** 12, total), 12),
        "StoreName": _str("Store ", k % 400),
        "RegionName": pa.array(np.array(REGIONS, dtype=object)[k % 5], pa.string()),
        "TrackingNumber": _str("1Z", rng.integers(0, 10 ** 16, total), 16),
        "OriginalTradeInvoiceID": pc.if_else(
            pa.array(rng.random(total) < 0.2),
            _str("INV", rng.integers(0, 10 ** 7, total)), ""),
        "OrderNumber": _str("ORD", rng.integers(0, 10 ** 8, total)),
        "CreditApplicationNum": _str("CA", rng.integers(0, 10 ** 6, total)),
        "LocationCode": _str("L", k % 400, 3),
        "MasterOrderNumber": _str("MO", rng.integers(0, 10 ** 8, total)),
        "SequenceNumber": pa.array(1 + rng.integers(0, 49, total), pa.int32()),
        "TradeInMobileNumber": _str("555", rng.integers(0, 10 ** 7, total), 7),
        "SubmissionId": pa.array(["%016x%016x" % ab for ab in zip(
            rng.integers(0, 2 ** 63, total).tolist(),
            rng.integers(0, 2 ** 63, total).tolist())], pa.string()),
        "TradeInEquipMake": _pick(rng, MAKES, total),
        "TradeInEquipCarrier": _pick(rng, CARRIERS, total),
        "DeviceSku": _str("SKU", rng.integers(0, 10 ** 5, total)),
        "TradeInDeviceId": _str("D", rng.integers(0, 10 ** 9, total)),
        "LobType": _pick(rng, ["Postpaid", "Prepaid"], total),
        "OrderType": _pick(rng, ["New", "Upgrade", "AAL"], total),
        "PurchaseDeviceId": _str("P", rng.integers(0, 10 ** 9, total)),
        "PromoCompletion": pc.if_else(pa.array(rng.random(total) < 0.02),
                                      pa.scalar(None, pa.string()),
                                      _pick(rng, ["Y", "N", ""], total)),
        "MobileNumber": _str("555", rng.integers(0, 10 ** 7, total), 7),
        "TradeInDate": _ts(date),
        "TradeInDateEST": _ts(_est_array(date)),
        "ETLRowInsertedEST": _ts(inserted),
        "ETLRowUpdatedEST": _ts(updated, updated < 0),
    }
    for c in DEC_ORDER:
        cols[c] = _money(rng, total)
    for name, (us, null) in side.items():
        cols[name] = _ts(us, null)
        cols[EST_OF[name]] = _ts(_est_array(us), null)
    day_str = pc.strftime(cols["TradeInDate"], format="%Y-%m-%d")
    table = pa.table([cols[c] for c in TARGET_COLUMNS[:-1]] + [day_str],
                     names=TARGET_COLUMNS)

    hashes = row_hashes(table)
    ins_cells = pc.cast(pc.cast(table.column("ETLRowInsertedEST"), pa.int64()),
                        pa.string()).to_pylist()
    model.target.update(zip(k.tolist(), zip(ins_cells, hashes)))
    model.digest += sum(hashes)
    good = k[~garbage].tolist()
    fd.latest.update(zip(good, date[~garbage].tolist()))
    fd.all_keys.extend(good)
    fd.recent.extend(good[-4 * n:])
    return table


# ---------------------------------------------------------------- files

def write_lines(path, lines):
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")


def _target_array(c, cells):
    vals = [None if v == NULL else v for v in cells]
    if c in INT_COLS:
        return pa.array([None if v is None else int(v) for v in vals], pa.int32())
    if c in DEC_COLS:
        return pa.array([None if v is None else Decimal(v) for v in vals],
                        pa.decimal128(18, 2))
    if c in TS_COLS or c.startswith("ETLRow"):
        return pa.array([None if v is None else int(v) for v in vals],
                        pa.timestamp("us", tz="UTC"))
    return pa.array(vals, pa.string())


def write_target(model, bulk, path):
    """The history target as a TradeInDay-partitioned parquet table, one
    file per day: the `bulk_history` rows, overridden by the rows the model
    wrote itself."""
    keep = pc.invert(pc.is_in(bulk.column("SaleInvoiceID"),
                              value_set=pa.array(list(model.cells), pa.int32())))
    cols = list(zip(*model.cells.values()))
    own = pa.table([_target_array(c, cols[i]) for i, c in enumerate(TARGET_COLUMNS[:-1])]
                   + [pa.array(cols[-1], pa.string())], names=TARGET_COLUMNS)
    table = pa.concat_tables([bulk.filter(keep), own]).sort_by("TradeInDay")
    ds.write_dataset(table, path, format="parquet",
                     partitioning=ds.partitioning(pa.schema([("TradeInDay", pa.string())]),
                                                  flavor="hive"),
                     basename_template="part-{i}.parquet")


def write_staging(model, path):
    """The model's retained staging rows as the staging parquet table."""
    os.makedirs(path, exist_ok=True)
    rows = model.staging
    data = {c: pa.array([r.staging[i] for r in rows], pa.string())
            for i, c in enumerate(COLUMNS)}
    data["ETLRowInsertedEST"] = pa.array([r.now_us for r in rows],
                                         pa.timestamp("us", tz="UTC"))
    pq.write_table(pa.table(data), path + "/part-00000.parquet")


def _cells(col, typ):
    if pa.types.is_timestamp(typ):
        col = pc.cast(pc.cast(col, pa.timestamp("us")), pa.int64())
    return pc.fill_null(pc.cast(col, pa.string()), NULL)


def row_hashes(table):
    """`row_hash` of every target row, with cells rendered as `KeyModel`
    renders them."""
    cols = [_cells(table.column(c), table.schema.field(c).type)
            for c in TARGET_COLUMNS]
    joined = pc.binary_join_element_wise(*cols, "|").to_pylist()
    return [int(hashlib.md5(s.encode()).hexdigest()[:15], 16) for s in joined]


def target_summary(path):
    """Row count and digest of a TradeInDay-partitioned target on disk."""
    part = ds.partitioning(pa.schema([("TradeInDay", pa.string())]), flavor="hive")
    fmt = ds.ParquetFileFormat(read_options={"coerce_int96_timestamp_unit": "us"})
    table = ds.dataset(path, format=fmt, partitioning=part).to_table(
        columns=TARGET_COLUMNS)
    hashes = row_hashes(table)
    return {"rows": len(hashes), "digest": str(sum(hashes))}
