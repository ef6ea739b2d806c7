"""Seeded CDC input generator with its own ground truth.

Follows the reference generator's semantics (``mock_data_in_cosmosdb.py``):
Confirmed inserts, then cancellation waves that re-emit 2-5 % of the live
Confirmed bookings with ``status``, ``cancellation_ts`` and
``cancellation_reason`` set and a later ``updated_at``. On top of that each
change file carries named shares of the faults a change feed delivers:

- ``malformed``: fresh bookings with ``checkout_date < checkin_date``; the
  quality split must keep them out of the fact;
- ``duplicate``: byte-identical re-deliveries of documents already sent;
- ``stale``: an older version of a cancelled booking delivered after the
  cancellation; last-writer-wins on ``updated_at`` must discard it.

Nothing here reads the wall clock or the process state, and nothing is
imported from the repository's tests, so the same seed always produces
byte-identical files. Files land atomically: each is written under a
dot-prefixed temp name (the Spark file source skips those) and renamed.
"""

from __future__ import annotations

import csv
import io
import json
import os
import random
import uuid
from datetime import date, datetime, timedelta
from decimal import Decimal

CSV_HEADER = (
    "customer_id", "first_name", "last_name", "email", "phone_number",
    "address", "city", "state", "country", "zip_code", "signup_date",
    "last_login", "total_bookings", "total_spent", "preferred_language",
    "referral_code", "account_status",
)
# An empty country reads back as NULL: the aggregate must group it, not drop it.
COUNTRIES = ("USA", "UK", "France", "India", "Japan", "Brazil", "")
CITIES = ("New York", "London", "Paris", "Dubai", "Mumbai", "Tokyo", "Sydney")
CANCEL_REASONS = (
    "guest_change_of_plans", "host_issue", "payment_issue", "weather", "overbooking",
)
FACT_COLUMNS = (
    "booking_id", "customer_id", "listing_id", "status", "booking_created_at",
    "checkin_date", "checkout_date", "nights", "lead_time_days", "guests_adults",
    "guests_children", "guests_infants", "price_nightly", "cleaning_fee",
    "total_amount", "currency", "country_code", "city", "channel", "device_type",
    "cancellation_ts", "cancellation_reason", "updated_at",
)
AGG_MEASURE_NAMES = (
    "total_bookings", "confirmed_bookings", "cancelled_bookings", "total_amount",
    "confirmed_amount", "cancelled_amount", "cancellation_rate", "last_booking_date",
    "first_booking_date", "avg_amount", "confirmed_avg_amount", "cancelled_avg_amount",
    "min_amount", "max_amount", "distinct_customers", "avg_stay_duration",
)
# Shares of each change file's document count.
MALFORMED_SHARE = 0.02
DUPLICATE_SHARE = 0.02
STALE_SHARE = 0.01
SENT_POOL = 5000  # recent documents that re-deliveries draw from
# Bookings reference ids up to this factor past the dim: ~2 % find no
# customer and must drop out of the aggregate's inner join.
ORPHAN_FACTOR = 1.02


def land(path: str, text: str) -> None:
    """Write ``text`` to ``path`` atomically (temp file, then rename)."""
    folder, name = os.path.split(path)
    os.makedirs(folder, exist_ok=True)
    tmp = os.path.join(folder, f".{name}.tmp")
    with open(tmp, "w", newline="") as f:
        f.write(text)
    os.replace(tmp, path)


def _ts(t: datetime) -> str:
    return t.strftime("%Y-%m-%d %H:%M:%S")


class CdcGenerator:
    """Produces customer CSVs and booking change files from one seed and
    keeps the state a correct pipeline must end in.

    ``dim`` maps customer_id to its latest CSV row (strings, as written);
    ``fact`` maps booking_id to its latest accepted document.
    """

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)
        self.dim: dict[int, list[str]] = {}
        self.fact: dict[str, dict] = {}
        self.confirmed: list[str] = []  # live Confirmed ids, insertion order
        self.cancelled: list[str] = []
        self.sent: list[str] = []  # serialized documents, for re-delivery
        self.clock = datetime(2025, 10, 1, 0, 0, 0)
        self.counts = {"malformed": 0, "duplicate": 0, "stale": 0, "cancel": 0}

    # -- customers ------------------------------------------------------

    def _customer_row(self, cid: int, wave: str) -> list[str]:
        r = self.rng
        spent = Decimal(r.randint(0, 200_000)) / 100
        return [
            str(cid), f"First{cid}", f"Last{cid}_{wave}", f"user{cid}.{wave}@example.com",
            f"555-{r.randint(1000, 9999)}", f"{r.randint(1, 999)} Main St, Apt {r.randint(1, 50)}",
            r.choice(CITIES), f"State{r.randint(1, 20)}", r.choice(COUNTRIES),
            f"{r.randint(10000, 99999)}",
            (date(2025, 1, 1) + timedelta(days=r.randint(0, 300))).isoformat(),
            _ts(datetime(2025, 8, 1) + timedelta(minutes=r.randint(0, 100_000))),
            str(r.randint(0, 20)), f"{spent:.2f}", r.choice(("English", "Spanish", "French")),
            f"ref-{r.randint(10000, 99999)}", r.choice(("Active", "Suspended", "Closed")),
        ]

    def customer_csv(self, ids, wave: str) -> str:
        """CSV text for ``ids`` (new or existing); the dim truth advances."""
        buf = io.StringIO()
        w = csv.writer(buf, lineterminator="\n")
        w.writerow(CSV_HEADER)
        for cid in ids:
            row = self._customer_row(cid, wave)
            self.dim[cid] = row
            w.writerow(row)
        return buf.getvalue()

    def delta_ids(self, n: int) -> list[int]:
        """``n`` existing customer ids, sorted (an update wave)."""
        return sorted(self.rng.sample(sorted(self.dim), n))

    # -- bookings -------------------------------------------------------

    def _tick(self) -> datetime:
        self.clock += timedelta(seconds=self.rng.randint(1, 30))
        return self.clock

    def _booking(self) -> dict:
        r = self.rng
        nights = r.randint(1, 14)
        checkin = date(2025, 11, 1) + timedelta(days=r.randint(0, 120))
        price = round(r.uniform(40, 400), 2)
        fee = round(r.uniform(0, 60), 2)
        created = self._tick()
        n_dim = max(len(self.dim), 1)
        return {
            "booking_id": str(uuid.UUID(int=r.getrandbits(128))),
            "customer_id": str(r.randint(1, int(n_dim * ORPHAN_FACTOR))),
            "listing_id": f"L{r.randint(1, 5000)}",
            "status": "Confirmed",
            "booking_created_at": _ts(created),
            "checkin_date": checkin.isoformat(),
            "checkout_date": (checkin + timedelta(days=nights)).isoformat(),
            "nights": nights,
            "lead_time_days": r.randint(0, 120),
            "guests_adults": r.randint(1, 4),
            "guests_children": r.randint(0, 1),
            "guests_infants": r.randint(0, 1),
            "price_nightly": price,
            "cleaning_fee": fee,
            "total_amount": round(price * nights + fee, 2),
            "currency": r.choice(("USD", "EUR", "GBP", "AED", "INR", "JPY", "AUD")),
            "country_code": r.choice(("USA", "UK", "FRA", "UAE", "IND", "JPN", "AUS")),
            "city": r.choice(CITIES),
            "channel": r.choice(("app", "web", "partner")),
            "device_type": r.choice(("iOS", "Android", "Web")),
            "cancellation_ts": None,
            "cancellation_reason": None,
            "updated_at": _ts(created),
        }

    def booking_file(self, n_inserts: int, cancel_frac: tuple[float, float] = (0.02, 0.05)) -> str:
        """One change file: ``n_inserts`` Confirmed inserts, cancellations
        of ``cancel_frac`` (drawn per file) x ``n_inserts`` live Confirmed
        bookings, and the malformed / duplicate / stale shares. JSON lines,
        shuffled the way a feed interleaves them."""
        r = self.rng
        docs: list[dict] = []
        for _ in range(n_inserts):
            d = self._booking()
            self.fact[d["booking_id"]] = d
            self.confirmed.append(d["booking_id"])
            docs.append(d)
        # cancel only bookings from earlier files, spread over the whole table
        old = len(self.confirmed) - n_inserts
        n_cancel = min(round(r.uniform(*cancel_frac) * n_inserts), old)
        for i in sorted(r.sample(range(old), n_cancel), reverse=True):
            bid = self.confirmed.pop(i)
            cur = dict(self.fact[bid])
            ts = datetime.fromisoformat(cur["updated_at"]) + timedelta(hours=r.randint(6, 48))
            cur.update(
                status="Cancelled", cancellation_ts=_ts(ts),
                cancellation_reason=r.choice(CANCEL_REASONS), updated_at=_ts(ts),
            )
            self.fact[bid] = cur
            self.cancelled.append(bid)
            docs.append(cur)
            self.counts["cancel"] += 1
        n = len(docs)
        for _ in range(round(n * MALFORMED_SHARE)):
            d = self._booking()
            d["checkout_date"] = (
                date.fromisoformat(d["checkin_date"]) - timedelta(days=r.randint(1, 5))
            ).isoformat()
            docs.append(d)
            self.counts["malformed"] += 1
        # stale: a Confirmed edit stamped between creation and the
        # cancellation that already superseded it
        for bid in r.sample(self.cancelled, min(round(n * STALE_SHARE), len(self.cancelled))):
            cur = self.fact[bid]
            stale = dict(cur)
            stale.update(
                status="Confirmed", cancellation_ts=None, cancellation_reason=None,
                guests_adults=cur["guests_adults"] % 4 + 1,
                updated_at=_ts(datetime.fromisoformat(cur["booking_created_at"]) + timedelta(hours=1)),
            )
            docs.append(stale)
            self.counts["stale"] += 1
        lines = [json.dumps(d) for d in docs]
        n_dup = min(round(n * DUPLICATE_SHARE), len(self.sent))
        lines += r.sample(self.sent, n_dup)
        self.counts["duplicate"] += n_dup
        r.shuffle(lines)
        self.sent = (self.sent + lines)[-SENT_POOL:]
        return "\n".join(lines) + "\n"

    # -- ground truth ---------------------------------------------------

    def fact_rows(self) -> list[tuple]:
        """Expected ``fact_booking`` rows as canonical text tuples."""
        return [tuple(_fact_text(d)) for d in self.fact.values()]

    def dim_rows(self) -> list[tuple]:
        """Expected ``dim_customer`` rows as canonical text tuples."""
        return [tuple(v if v != "" else None for v in row) for row in self.dim.values()]

    def aggregate(self) -> dict:
        """Expected aggregate: country -> 16 measures, the reference's
        inner join of fact and dim grouped by the customer's country."""
        groups: dict = {}
        for d in self.fact.values():
            cust = self.dim.get(int(d["customer_id"]))
            if cust is None:
                continue
            groups.setdefault(cust[8] or None, []).append(d)
        return {c: _measures(ds) for c, ds in groups.items()}


def _money(x: float) -> Decimal:
    return Decimal(repr(x)).quantize(Decimal("0.01"))


def _fact_text(d: dict) -> list:
    """A document as the fact stores it, each value rendered as text:
    dates cut from the created timestamp, money at two decimals."""
    out = []
    for c in FACT_COLUMNS:
        v = d[c]
        if v is None:
            out.append(None)
        elif c == "booking_created_at":
            out.append(v[:10])
        elif c in ("price_nightly", "cleaning_fee", "total_amount"):
            out.append(f"{_money(v):.2f}")
        else:
            out.append(str(v))
    return out


def _measures(ds: list[dict]) -> dict:
    conf = [d for d in ds if d["status"] == "Confirmed"]
    canc = [d for d in ds if d["status"] == "Cancelled"]
    amt = lambda xs: sum((_money(d["total_amount"]) for d in xs), Decimal(0))  # noqa: E731
    amounts = [_money(d["total_amount"]) for d in ds]
    n = len(ds)
    return {
        "total_bookings": n,
        "confirmed_bookings": len(conf),
        "cancelled_bookings": len(canc),
        "total_amount": float(amt(ds)),
        "confirmed_amount": float(amt(conf)),
        "cancelled_amount": float(amt(canc)),
        "cancellation_rate": len(canc) / n,
        "last_booking_date": max(d["booking_created_at"][:10] for d in ds),
        "first_booking_date": min(d["booking_created_at"][:10] for d in ds),
        "avg_amount": float(amt(ds)) / n,
        "confirmed_avg_amount": float(amt(conf)) / len(conf) if conf else None,
        "cancelled_avg_amount": float(amt(canc)) / len(canc) if canc else None,
        "min_amount": float(min(amounts)),
        "max_amount": float(max(amounts)),
        "distinct_customers": len({d["customer_id"] for d in ds}),
        "avg_stay_duration": sum(d["nights"] for d in ds) / n,
    }
