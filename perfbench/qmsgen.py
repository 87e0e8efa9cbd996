"""Seeded QMS document generator and the expected-state model.

The generator produces the three collections of a queue-management
system — ``ticket``, ``user`` (staff) and ``rating`` — as plain JSON
documents, the shape the source document store hands the sync service:
nested ``meta`` objects, ``assignedRooms`` arrays, nulls and Amharic
strings. The program under test only ever sees the NDJSON files written
by :func:`write_ndjson`.

Every document carries an ``updatedAt`` cursor drawn from one clock
that strictly increases across the whole run, so a strict ``>``
checkpoint can never drop a row and last-write-wins by ``_id`` is
unambiguous. :class:`ExpectedState` applies the same documents in
cursor order and is the reference the correctness gate compares the
warehouse against.

Type stability: a delta's schema is inferred from its own documents,
so every nullable top-level field is a string (an all-null column
infers as string, the same type the table already holds) and every
numeric field is always present.
"""

from __future__ import annotations

import datetime as dt
import json
import random

SERVICES = ("ክፍያ", "ምዝገባ", "መረጃ", "ቅሬታ", "ፈቃድ", "እድሳት")
NAMES = (
    "አበበ በቀለ", "ሰላም ተስፋዬ", "ዮሐንስ ገብሩ", "መሰረት አለሙ", "ትግስት ካሳ",
    "ብርሃኑ ወልዴ", "ሄኖክ ታደሰ", "ፍሬሕይወት ደስታ", "Abel Tesfaye", "Liya Haile",
)
NOTES = ("አስቸኳይ", "ቀጠሮ ያለው", "አረጋዊ", "follow-up", "ሰነድ ይጎድላል")
COMMENTS = ("በጣም ጥሩ", "ፈጣን አገልግሎት", "ረጅም ጥበቃ", "ትሁት ሰራተኛ", "ok")
STATUSES = ("waiting", "serving", "served", "served", "served", "cancelled")
CHANNELS = ("kiosk", "web", "sms", "app")
ROOMS = tuple(f"R{i:02d}" for i in range(1, 25))

EPOCH = dt.datetime(2025, 1, 6, 8, 0, 0)
TS_FORMAT = "%Y-%m-%dT%H:%M:%S.%fZ"


def iso(ts: dt.datetime) -> str:
    """The landed cursor text: ISO-8601, microseconds, UTC ``Z``."""
    return ts.strftime(TS_FORMAT)


class QmsGenerator:
    """Deterministic document source: one ``random.Random(seed)`` and
    one monotonic clock drive every document, so the same seed and the
    same call sequence give byte-identical files."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.clock = EPOCH
        self.ticket_ids: list[str] = []
        self.user_ids: list[str] = []
        self._next_ticket_number = 1

    # -- primitives ------------------------------------------------------

    def _tick(self, max_us: int = 4000) -> dt.datetime:
        self.clock += dt.timedelta(microseconds=self.rng.randint(1, max_us))
        return self.clock

    def _oid(self) -> str:
        return f"{self.rng.getrandbits(96):024x}"

    def _maybe(self, value, p_null: float):
        return None if self.rng.random() < p_null else value

    # -- documents -------------------------------------------------------

    def user(self, _id: str | None = None) -> dict:
        ts = self._tick()
        return {
            "_id": _id or self._oid(),
            "name": self.rng.choice(NAMES),
            "role": "admin" if self.rng.random() < 0.05 else "staff",
            "window": self.rng.randint(1, 40),
            "active": self.rng.random() < 0.9,
            "meta": {
                "shift": self.rng.choice(("ጠዋት", "ከሰዓት")),
                "langs": self.rng.sample(("am", "en", "om", "ti"), 2),
            },
            "createdAt": iso(ts - dt.timedelta(days=30)),
            "updatedAt": iso(ts),
        }

    def ticket(self, _id: str | None = None) -> dict:
        ts = self._tick()
        status = self.rng.choice(STATUSES)
        served = status in ("serving", "served")
        created = ts - dt.timedelta(seconds=self.rng.randint(0, 3 * 86400))
        doc = {
            "_id": _id or self._oid(),
            "ticketNumber": self._next_ticket_number,
            "service": self.rng.choice(SERVICES),
            "status": status,
            "customerName": self._maybe(self.rng.choice(NAMES), 0.15),
            "servedBy": self.rng.choice(self.user_ids) if served and self.user_ids else None,
            "assignedRooms": self._maybe(
                self.rng.sample(ROOMS, self.rng.randint(0, 3)), 0.1
            ),
            "meta": {
                "channel": self.rng.choice(CHANNELS),
                "priority": self.rng.randint(0, 3),
                "lang": self.rng.choice(("am", "en")),
                "note": self._maybe(self.rng.choice(NOTES), 0.6),
            },
            "serveSeconds": round(self.rng.uniform(30.0, 1800.0), 3) if served else 0.0,
            "servedAt": iso(ts) if served else None,
            "createdAt": iso(created),
            "updatedAt": iso(ts),
        }
        self._next_ticket_number += 1
        return doc

    def rating(self) -> dict:
        ts = self._tick()
        return {
            "_id": self._oid(),
            "ticket": self.rng.choice(self.ticket_ids),
            "user": self.rng.choice(self.user_ids),
            "score": self.rng.randint(1, 5),
            "comment": self._maybe(self.rng.choice(COMMENTS), 0.4),
            "createdAt": iso(ts),
            "updatedAt": iso(ts),
        }

    # -- batches ---------------------------------------------------------

    def seed_collections(
        self, n_tickets: int, n_users: int, n_ratings: int
    ) -> dict[str, list[dict]]:
        """The initial warehouse contents, one list per collection."""
        users = [self.user() for _ in range(n_users)]
        self.user_ids = [u["_id"] for u in users]
        tickets = [self.ticket() for _ in range(n_tickets)]
        self.ticket_ids = [t["_id"] for t in tickets]
        ratings = [self.rating() for _ in range(n_ratings)]
        return {"user": users, "ticket": tickets, "rating": ratings}

    def ticket_delta(
        self,
        n: int,
        insert_frac: float,
        recent_window: int,
        replays: int = 0,
    ) -> list[dict]:
        """One landed batch of ``n`` ticket documents.

        ``insert_frac`` of them are new tickets; the rest update
        existing ones, drawn from the newest ``recent_window`` tickets.
        ``replays`` documents repeat
        an ``_id`` already in the batch with a later ``updatedAt`` —
        the in-batch dedup must keep the later one. File order is
        shuffled, so the later write is not always the later line.
        """
        docs = []
        for _ in range(n - replays):
            if self.rng.random() < insert_frac:
                doc = self.ticket()
                self.ticket_ids.append(doc["_id"])
            else:
                doc = self.ticket(_id=self.rng.choice(self.ticket_ids[-recent_window:]))
            docs.append(doc)
        for _ in range(replays):
            docs.append(self.ticket(_id=self.rng.choice(docs)["_id"]))
        self.rng.shuffle(docs)
        return docs


def ndjson_bytes(docs: list[dict]) -> bytes:
    return "".join(
        json.dumps(d, ensure_ascii=False, separators=(",", ":")) + "\n" for d in docs
    ).encode("utf-8")


def write_ndjson(path: str, docs: list[dict]) -> int:
    """Land ``docs`` as one NDJSON file; returns the bytes written."""
    data = ndjson_bytes(docs)
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


class ExpectedState:
    """Reference model of the warehouse: per collection, last write
    wins by ``_id`` in ``updatedAt`` order; the checkpoint is the
    largest ``updatedAt`` ever landed."""

    def __init__(self):
        self.tables: dict[str, dict[str, dict]] = {}
        self.high_water: dict[str, str] = {}

    def apply(self, collection: str, docs: list[dict]) -> None:
        table = self.tables.setdefault(collection, {})
        for doc in sorted(docs, key=lambda d: d["updatedAt"]):
            old = table.get(doc["_id"])
            if old is None or doc["updatedAt"] > old["updatedAt"]:
                table[doc["_id"]] = doc
        top = max(d["updatedAt"] for d in docs)
        if top > self.high_water.get(collection, ""):
            self.high_water[collection] = top

    def rows(self, collection: str) -> list[dict]:
        return list(self.tables.get(collection, {}).values())
