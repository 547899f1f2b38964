"""Seeded input generators for the benchmark workloads.

Everything here is pure Python (plus numpy for the corpus vectors): no
Spark, so the inputs and the expected results exist before
the engine sees anything, and the same seed always yields byte-identical
files.

- ``DwhFeeds``: daily products / order-events / inventory CSV drops, and
  a pure-Python oracle for the warehouse state after any number of days.
- ``corpus_days``: day-over-day document increments with injected exact,
  near and vector duplicates (the shape ``tests/corpus_soak.py`` drives).
"""

from __future__ import annotations

import csv
import hashlib
import random
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta
from pathlib import Path

# ---------------------------------------------------------------------------
# dwh_daily: feeds + oracle
# ---------------------------------------------------------------------------

FIRST_DAY = date(2021, 3, 1)
CATEGORIES = ["tools", "gadgets", "accessories", "garden", "toys", "books", "kitchen", "sports"]
#: next status of an order event chain; terminal statuses have no entry
NEXT_STATUS = {"created": ("shipped", "deleted"), "shipped": ("completed",)}
#: dim_dates' calendar (plans/dates.py: 1970-01-01 + 29220 days)
CALENDAR = (date(1970, 1, 1), date(1970, 1, 1) + timedelta(days=29219))
EVENT_FIELDS = ["id", "productId", "amount", "totalPrice", "status", "timestamp"]


def day_date(day: int) -> date:
    return FIRST_DAY + timedelta(days=day)


def run_ts(day: int) -> str:
    """The batch timestamp a day's feeds are processed with (after every
    in-day event, which the generator keeps before 23:00)."""
    return f"{day_date(day).isoformat()} 23:30:00"


@dataclass
class DwhFeeds:
    """Seeded generator of the three daily feeds.

    Per day: a full product snapshot (``churn`` of products change
    category or price, ``new_frac`` new products appear), order events
    (creates, status transitions, exact duplicate rows, late rows stamped
    the previous day, a few rows outside dim_dates' calendar) and an
    inventory feed carrying only changed stock rows. Day 0 is the
    bootstrap day. ``expected(n_days)`` replays the same history in pure
    Python and returns what the warehouse must hold afterwards."""

    seed: int
    products: int = 20_000
    orders_per_day: int = 20_000
    churn: float = 0.01
    new_frac: float = 0.005
    stock_change_frac: float = 0.05
    dup_frac: float = 0.01
    late_frac: float = 0.01
    out_of_calendar: int = 3
    _days: list = field(default_factory=list, repr=False)

    def __post_init__(self) -> None:
        self._rng = random.Random(self.seed)
        # product id -> (title, category, price-in-cents)
        self._products: dict[str, tuple[str, str, int]] = {}
        for i in range(self.products):
            self._add_product(i)
        self._next_product = self.products
        # order id -> (product, amount, unit cents, last status, last time)
        self._open: dict[str, list] = {}
        self._next_order = 0

    def _add_product(self, i: int) -> None:
        r = self._rng
        self._products[f"p{i}"] = (f"Product {i}", r.choice(CATEGORIES), r.randint(100, 50000))

    # -- one day's drops ------------------------------------------------------

    def day(self, d: int) -> dict:
        """Rows of day ``d`` (generated in order; days must be asked for
        0, 1, 2, ...): ``{"products": [...], "orders": [...],
        "inventory": [...]}`` as lists of CSV field lists."""
        while len(self._days) <= d:
            self._days.append(self._make_day(len(self._days)))
        return self._days[d]

    def _make_day(self, d: int) -> dict:
        r = self._rng
        today = day_date(d)
        if d > 0:
            ids = sorted(self._products, key=lambda k: int(k[1:]))
            for pid in r.sample(ids, max(1, int(len(ids) * self.churn))):
                title, cat, cents = self._products[pid]
                if r.random() < 0.5:
                    cat = r.choice([c for c in CATEGORIES if c != cat])
                else:
                    cents = cents + r.randint(1, 500) * r.choice((-1, 1))
                    cents = cents if cents > 0 else cents + 1000
                self._products[pid] = (title, cat, cents)
            for _ in range(max(1, int(self.products * self.new_frac))):
                self._add_product(self._next_product)
                self._next_product += 1
        products = [
            [pid, t, c, f"{cents / 100:.2f}"]
            for pid, (t, c, cents) in sorted(self._products.items(), key=lambda kv: int(kv[0][1:]))
        ]

        events: list[list[str]] = []

        def at(day: date, lo: int, hi: int) -> datetime:
            return datetime(day.year, day.month, day.day) + timedelta(seconds=r.randint(lo, hi))

        def emit(oid: str, st: str, when: datetime) -> None:
            pid, amount, cents = self._open[oid][:3]
            events.append([oid, pid, str(amount), f"{amount * cents / 100:.2f}", st,
                           when.strftime("%Y-%m-%d %H:%M:%S")])
            self._open[oid][3:5] = [st, when]

        def create(when: datetime, tag: str = "") -> str:
            oid = f"o{d:03d}{tag}{self._next_order:07d}"
            self._next_order += 1
            pid = f"p{r.randrange(self._next_product)}"
            self._open[oid] = [pid, r.randint(1, 5), self._products[pid][2], None, None]
            emit(oid, "created", when)
            return oid

        # status transitions of orders created on earlier days (later in
        # time than anything they have, so never interior to a run)
        movable = sorted(o for o, v in self._open.items() if v[3] in NEXT_STATUS and v[4] < datetime(today.year, today.month, today.day))
        for oid in r.sample(movable, min(len(movable), self.orders_per_day // 3)):
            emit(oid, r.choice(NEXT_STATUS[self._open[oid][3]]), at(today, 0, 82_000))
        for _ in range(self.orders_per_day):
            oid = create(at(today, 0, 60_000))
            if r.random() < 0.2:  # shipped the same day
                emit(oid, "shipped", self._open[oid][4] + timedelta(seconds=r.randint(60, 20_000)))
        if d > 0:
            # late arrivals: orders created yesterday, delivered today
            yesterday = today - timedelta(days=1)
            for _ in range(max(1, int(self.orders_per_day * self.late_frac))):
                create(at(yesterday, 0, 82_000), "L")
        # outside dim_dates' calendar (an upstream clock bug): before the
        # epoch, and after the calendar's end
        for i in range(self.out_of_calendar):
            create(datetime(1969, 12, 31, 12, 0, i) if i % 2 else datetime(2051, 6, 1, 12, 0, i), "X")
        # exact duplicate deliveries of today's rows
        for row in r.sample(events, max(1, int(len(events) * self.dup_frac))):
            events.append(list(row))
        r.shuffle(events)

        if d == 0:
            inventory = [[pid, str(r.randint(0, 500)), today.isoformat()] for pid, *_ in products]
        else:
            chosen = r.sample([p[0] for p in products], max(1, int(len(products) * self.stock_change_frac)))
            inventory = [[pid, str(r.randint(0, 500)), today.isoformat()] for pid in sorted(chosen)]
        return {"products": products, "orders": events, "inventory": inventory}

    def write_day(self, d: int, out_dir: Path) -> dict[str, Path]:
        """Write day ``d``'s three CSV drops; returns their paths."""
        rows = self.day(d)
        ds = day_date(d).isoformat()
        headers = {
            "products": ["id", "title", "category", "price"],
            "orders": EVENT_FIELDS,
            "inventory": ["productId", "amount", "date"],
        }
        out_dir.mkdir(parents=True, exist_ok=True)
        paths = {}
        for feed, header in headers.items():
            p = out_dir / f"{feed}_{ds}.csv"
            with p.open("w", newline="") as f:
                w = csv.writer(f)
                w.writerow(header)
                w.writerows(rows[feed])
            paths[feed] = p
        return paths

    # -- oracle ---------------------------------------------------------------

    def expected(self, n_days: int, as_of: str) -> dict:
        """Warehouse facts after days ``0 .. n_days-1``, replayed from the
        generated rows only:

        - ``fact_rows``: orders with at least one event inside dim_dates'
          calendar (the fact keeps one row per such order);
        - ``status_counts``: ``current_orders_by_status`` at ``as_of`` —
          per order, the status of its latest event at or before
          ``as_of`` (orders whose every event is later have no current
          row);
        - ``open_products``: open ``dim_products`` rows, one per product
          id ever delivered;
        - ``inventory_rows``: ``fact_inventory`` rows, one per delivered
          (product, date)."""
        cutoff = datetime.fromisoformat(as_of)
        latest: dict[str, tuple[datetime, str]] = {}
        in_calendar: set[str] = set()
        products: set[str] = set()
        inventory: set[tuple[str, str]] = set()
        for d in range(n_days):
            rows = self.day(d)
            products.update(p[0] for p in rows["products"])
            inventory.update((i[0], i[2]) for i in rows["inventory"])
            for oid, _, _, _, status, ts in rows["orders"]:
                t = datetime.fromisoformat(ts)
                if CALENDAR[0] <= t.date() <= CALENDAR[1]:
                    in_calendar.add(oid)
                if t <= cutoff and (oid not in latest or t > latest[oid][0]):
                    latest[oid] = (t, status)
        counts: dict[str, int] = {}
        for _, status in latest.values():
            counts[status] = counts.get(status, 0) + 1
        return {
            "fact_rows": len(in_calendar),
            "status_counts": dict(sorted(counts.items())),
            "open_products": len(products),
            "inventory_rows": len(inventory),
        }


# ---------------------------------------------------------------------------
# corpus_daily: document increments
# ---------------------------------------------------------------------------

STOPWORDS = ["the", "a", "and", "of", "is", "to", "in", "for", "on", "with", "that", "this"]
#: synthetic content vocabulary: wide enough that two independent
#: documents share almost no word 3-grams
VOCAB = [f"{a}{b}" for a in ("data", "spark", "table", "query", "batch", "stream", "vector",
                             "column", "window", "merge", "shard", "index", "token", "cache",
                             "graph", "sketch", "filter", "sort", "hash", "join")
         for b in ("", "s", "er", "ing", "ed", "ly", "ion", "al", "ive", "ous")]
EMBED_DIM = 16


def unit_vec(key: int, dim: int = EMBED_DIM) -> list[float]:
    """Deterministic unit vector hashed from ``key``: independent keys
    land far below the pipeline's 0.95 cosine threshold."""
    import numpy as np

    seed = int.from_bytes(hashlib.md5(str(key).encode()).digest()[:4], "big")
    v = np.random.RandomState(seed).standard_normal(dim)
    return [float(x) for x in v / np.linalg.norm(v)]


def english_doc(r: random.Random, n_words: int) -> str:
    words = [r.choice(STOPWORDS) if r.random() < 0.3 else r.choice(VOCAB) for _ in range(n_words)]
    return " ".join(words)


@dataclass
class CorpusDay:
    ds: str
    docs: list[tuple[int, str]]
    embeddings: list[tuple[int, list[float]]]
    exact_copies: list[int]


def corpus_days(
    seed: int, n_days: int, fresh: int, n_exact: int = 6, n_near: int = 5, n_vec: int = 4
) -> list[CorpusDay]:
    """``n_days`` increments of ``fresh`` new documents plus injected
    duplicates of the previous day's fresh docs (day 1 injects from its
    own slice): ``n_exact`` exact text copies, ``n_near`` copies with one
    word substituted, and ``n_vec`` new texts carrying a prior doc's
    embedding. Full embedding coverage, as the pipeline's contract asks."""
    r = random.Random(seed)
    days: list[CorpusDay] = []
    prev: list[tuple[int, str]] = []
    for d in range(1, n_days + 1):
        base = d * 100_000
        docs = [(base + i, english_doc(r, r.randint(50, 110))) for i in range(fresh)]
        embs = [(i, unit_vec(i)) for i, _ in docs]
        src = (prev or docs)[: n_exact + n_near + n_vec]
        nid = base + 90_000
        exact = []
        for i, (_, t) in enumerate(src[:n_exact]):
            exact.append(nid + i)
            docs.append((nid + i, t))
            embs.append((nid + i, unit_vec(nid + i)))
        for i, (_, t) in enumerate(src[n_exact : n_exact + n_near]):
            words = t.split()
            words[len(words) // 2] = "nearcopyword"
            docs.append((nid + 100 + i, " ".join(words)))
            embs.append((nid + 100 + i, unit_vec(nid + 100 + i)))
        for i, (sid, _) in enumerate(src[n_exact + n_near :]):
            vid = nid + 200 + i
            docs.append((vid, english_doc(r, 60)))
            embs.append((vid, unit_vec(sid)))
        days.append(CorpusDay(f"2021-06-{d:02d}", docs, embs, exact))
        prev = docs[:fresh]
    return days
