"""Seeded in-process fake of the animals API, and the reference ETL
computed in plain Python from the same seed.

``FakeApi`` is a transport factory (``TransportFactory`` in
``project_fauna_spark.sources.http``): calling it returns a fresh
transport, as each Spark task does.  Every response is a pure function
of ``(seed, path)``:

* ``GET /animals/v1/animals?page=n`` lists ids ``PAGE_SIZE`` at a time;
* ``GET /animals/v1/animals/<id>`` returns the detail record, or 404
  for a seeded share of ids (the pipeline drops those ids);
* ``POST`` bodies are written to ``posts_dir``, one file per batch;
* a seeded share of paths and bodies answer 500 to the first request a
  transport instance makes for them, then succeed (one-shot 500s).

With ``count_path`` set, each request appends one byte to that file
(``p`` page, ``d`` detail, ``n`` 404, ``r`` 500, ``b`` batch post), so
the benchmark can count requests the executors made.

``expected_records`` is the reference transform (split friends, epoch
to ISO-8601 with unit detection and guards) in plain Python, the
oracle for the records the pipeline posts.
"""

from __future__ import annotations

import json
import math
import os
import random
import uuid
import zlib
from dataclasses import dataclass, field
from datetime import datetime, timezone

BASE_PATH = "/animals/v1/animals"
PAGE_SIZE = 100
AS_OF = "2030-01-01 00:00:00"
_AS_OF_DT = datetime(2030, 1, 1, tzinfo=timezone.utc)
SHARE_404 = 0.02
SHARE_500_PER_MILLE = 30

_NAMES = ["Dog", "Cat", "Mouse", "Kangaroo", "Sea Lions", "Otter", "Émeu", "Lynx", "Gnu"]
_PADS = ["", " ", "  ", " ", "\t", "　"]


def _rng(seed: int, rid: int) -> random.Random:
    return random.Random(f"{seed}:{rid}")


def born_at_value(rng: random.Random) -> int | None:
    """Epoch in a random unit, or an invalid or NULL value."""
    kind = rng.randrange(10)
    secs = rng.randrange(0, 1_880_000_000)
    if kind <= 1:
        return secs
    if kind <= 3:
        return secs * 1000 + rng.randrange(1000) if secs >= 1_000_000_000 else 10**12 + secs
    if kind == 4:
        return 10**15 + secs * 100_000 + rng.randrange(100_000)
    if kind == 5:
        return 10**18 + secs * 100_000_000 + rng.randrange(10**8)
    if kind == 6:
        return -rng.randrange(1, 10**9)
    if kind == 7:
        return 2_500_000_000 + secs  # after AS_OF
    return None


def detail_record(seed: int, rid: int) -> dict | None:
    """The API's detail record for ``rid``; None means 404."""
    rng = _rng(seed, rid)
    if rng.random() < SHARE_404:
        return None
    friends = ",".join(
        rng.choice(_PADS) + rng.choice(_NAMES + [""]) + rng.choice(_PADS)
        for _ in range(rng.randrange(0, 5))
    )
    return {
        "id": rid,
        "name": f"{rng.choice(_NAMES)}-{rid}",
        "friends": friends if rng.random() < 0.9 else None,
        "born_at": born_at_value(rng),
    }


def one_shot_500(seed: int, key: str) -> bool:
    return zlib.crc32(f"{seed}|{key}".encode()) % 1000 < SHARE_500_PER_MILLE


@dataclass
class _Transport:
    api: "FakeApi"
    seen: set = field(default_factory=set)
    counter: object = None

    def _count(self, code: bytes) -> None:
        if self.api.count_path is not None:
            if self.counter is None:
                self.counter = open(self.api.count_path, "ab", buffering=0)
            self.counter.write(code)

    def __call__(self, method: str, path: str) -> tuple[int, str]:
        api = self.api
        key = f"{method} {path}"
        if key not in self.seen and one_shot_500(api.seed, key):
            self.seen.add(key)
            self._count(b"r")
            return 500, "transient"
        self.seen.add(key)
        if method.startswith("POST"):
            name = f"{uuid.uuid4().hex}.json"
            with open(os.path.join(api.posts_dir, name), "w") as f:
                f.write(path)  # POST transports receive the body as "path"
            self._count(b"b")
            return 200, "{}"
        if "?page=" in path:
            page = int(path.rsplit("=", 1)[1])
            lo = (page - 1) * PAGE_SIZE + 1
            hi = min(api.n_animals, page * PAGE_SIZE)
            items = [{"id": i, "name": f"animal-{i}"} for i in range(lo, hi + 1)]
            self._count(b"p")
            return 200, json.dumps({"page": page, "total_pages": api.total_pages, "items": items})
        rec = detail_record(api.seed, int(path.rsplit("/", 1)[1]))
        if rec is None:
            self._count(b"n")
            return 404, "not found"
        self._count(b"d")
        return 200, json.dumps(rec)


@dataclass(frozen=True)
class FakeApi:
    """Transport factory for one pipeline run."""

    seed: int
    n_animals: int
    posts_dir: str
    count_path: str | None = None

    @property
    def total_pages(self) -> int:
        return max(1, math.ceil(self.n_animals / PAGE_SIZE))

    def __call__(self) -> _Transport:
        return _Transport(self)


# ---------------------------------------------------------------------------
# Reference ETL in plain Python
# ---------------------------------------------------------------------------


def split_friends(s: str | None) -> list[str]:
    return [p.strip() for p in (s or "").split(",") if p.strip()]


def epoch_to_iso(e: int | None) -> str | None:
    """Unit auto-detect by magnitude, float-seconds division, then
    ``datetime.fromtimestamp``; NULL, negative, future and overflowing
    values give None."""
    if e is None or e < 0:
        return None
    div = 1e9 if e >= 10**18 else 1e6 if e >= 10**15 else 1e3 if e >= 10**12 else 1.0
    try:
        dt = datetime.fromtimestamp(float(e) / div, tz=timezone.utc)
    except (OverflowError, OSError, ValueError):
        return None
    if dt > _AS_OF_DT:
        return None
    return dt.isoformat().replace("+00:00", "Z")


def expected_records(seed: int, n_animals: int) -> tuple[dict[int, dict], int]:
    """Posted records by id (null fields omitted, friends as a list),
    and how many non-NULL ``born_at`` values the transform nulls."""
    out: dict[int, dict] = {}
    n_invalid = 0
    for rid in range(1, n_animals + 1):
        rec = detail_record(seed, rid)
        if rec is None:
            continue
        iso = epoch_to_iso(rec["born_at"])
        if rec["born_at"] is not None and iso is None:
            n_invalid += 1
        row = {"id": rid, "name": rec["name"], "friends": split_friends(rec["friends"])}
        if iso is not None:
            row["born_at"] = iso
        out[rid] = row
    return out, n_invalid


def read_posts(posts_dir: str) -> list[str]:
    """Every posted batch body, in file-name order."""
    bodies = []
    for name in sorted(os.listdir(posts_dir)):
        with open(os.path.join(posts_dir, name)) as f:
            bodies.append(f.read())
    return bodies


def posted_records(bodies: list[str]) -> list[dict]:
    """The records of every batch body, with friends parsed to a list."""
    records = []
    for body in bodies:
        for rec in json.loads(body):
            if isinstance(rec.get("friends"), str):
                rec["friends"] = json.loads(rec["friends"])
            records.append(rec)
    return records


def expected_requests(api: FakeApi, posted_bodies: list[str]) -> dict[str, int]:
    """Requests one pipeline run makes: the page-1 probe before the fan-out, one
    GET per listing page and per listed id, one POST per batch, plus
    one retry for each one-shot 500 among them."""
    pages = [f"GET {BASE_PATH}?page={p}" for p in range(1, api.total_pages + 1)]
    ids = [f"GET {BASE_PATH}/{i}" for i in range(1, api.n_animals + 1)]
    posts = [f"POST {b}" for b in posted_bodies]
    keys = [pages[0]] + pages + ids + posts
    retries = sum(one_shot_500(api.seed, k) for k in keys)
    return {"requests": len(keys) + retries, "retries": retries}
