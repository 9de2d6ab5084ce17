"""Seeded generators for the benchmark's inputs.

``RawFixture`` produces the raw layer of the Twitch medallion pipeline
one 15-minute slot at a time, in the reference's indented JSON
envelopes (FIXTURES.md A1-A4):

- streams: at most 25 shard files per slot, ~1% non-numeric stream or
  user ids ("test streams"), ~1% empty ``language``, Zipf-like viewer
  counts and category popularity, and cross-shard duplicates that are
  full-record copies (so keep-first gives one answer on every engine);
- categories: the slot's categories plus a few full-row duplicates,
  ~35% with an empty ``igdb_id``;
- users: only ids not emitted in an earlier slot, ~1% never returned
  (banned), plus a few re-emissions of known users with changed
  attributes (the upsert must keep the state's version);
- genre / game-mode bridges: one record per slot category with an
  ``igdb_id``, the id array absent for ~10% of them.

``write_curated_week`` writes curated fact rows straight to parquet for
the read-only dashboard workload.

Only ``random.Random(seed)`` and ``numpy`` seeded generators feed the
output, so the same seed gives byte-identical files.
"""

from __future__ import annotations

import bisect
import datetime as dt
import json
import os
import random
from dataclasses import dataclass, field
from itertools import accumulate

STREAMS_PER_SLOT = 3912  # the reference's observed batch (BASELINE.md)
MAX_SHARDS = 25
WEEK_SLOTS = 7 * 96
N_CATEGORIES = 2500
N_GENRES = 23
N_GAME_MODES = 6
START_DAY = dt.date(2026, 1, 11)
LANGUAGES = ("en", "es", "de", "fr", "pt", "ja", "ko", "ru", "it", "pl", "tr", "zh")
TAGS = ("English", "Gaming", "Chill", "FPS", "RPG", "Speedrun", "Music", "Art")
TITLE_WORDS = (
    "ranked", "grind", "chill", "stream", "🎮", "!drops", "day", "❤️",
    "road", "to", "top", "500", "co-op", "first", "playthrough", "🔥",
)

RAW_DIRS = {
    "streams": "raw_streams_data",
    "categories": "raw_categories_data",
    "users": "raw_users_data",
    "genre_bridge": "raw_genre_bridge_data",
    "game_mode_bridge": "raw_game_mode_bridge_data",
}


def slot_ids(k: int) -> tuple[str, str]:
    """(day_date_id, time_of_day_id) of the k-th slot after START_DAY 00:00."""
    day = START_DAY + dt.timedelta(days=k // 96)
    minutes = (k % 96) * 15
    return day.strftime("%Y%m%d"), f"{minutes // 60:02d}{minutes % 60:02d}"


def _zipf_cum(n: int, s: float) -> list[float]:
    return list(accumulate(1.0 / (i + 1) ** s for i in range(n)))


@dataclass
class Slot:
    """One slot's raw records, grouped as the files that carry them."""

    day_date_id: str
    time_of_day_id: str
    stream_shards: list[list[dict]]
    categories: list[dict]
    users: list[dict]
    genre_bridge: list[dict]
    game_mode_bridge: list[dict]

    @property
    def n_stream_records(self) -> int:
        return sum(len(s) for s in self.stream_shards)


@dataclass
class _Stream:
    id: str
    user: int
    category: int
    language: str
    title: str
    started_at: str
    mature: bool
    base_viewers: int
    tags: list = field(default_factory=list)


class RawFixture:
    """Deterministic raw-slot generator; slots must be drawn in order."""

    def __init__(self, seed: int, streams_per_slot: int = STREAMS_PER_SLOT):
        self.rng = random.Random(seed)
        self.streams_per_slot = streams_per_slot
        self.k = 0
        self._cat_cum = _zipf_cum(N_CATEGORIES, 1.05)
        self._categories = [self._category(i) for i in range(N_CATEGORIES)]
        self._next_user = 0
        self._next_stream = 0
        self._emitted_users: list[int] = []
        self._emitted_set: set[int] = set()
        self._banned: set[int] = set()
        self._live = [self._new_stream() for _ in range(streams_per_slot)]

    # -- universes ---------------------------------------------------------

    def _category(self, i: int) -> dict:
        r = self.rng
        igdb = "" if r.random() < 0.35 else str(1000 + 7 * i)
        genres = None if r.random() < 0.10 else sorted(
            r.sample(range(2, 2 + N_GENRES), r.randint(1, 5)))
        modes = None if r.random() < 0.10 else sorted(
            r.sample(range(1, 1 + N_GAME_MODES), r.randint(1, 5)))
        return {
            "id": str(490000 + 13 * i),
            "name": f"Game {i} — {r.choice(TITLE_WORDS)}",
            "box_art_url": "" if r.random() < 0.02 else
            f"https://static-cdn.jtvnw.net/ttv-boxart/{490000 + 13 * i}-{{width}}x{{height}}.jpg",
            "igdb_id": igdb,
            "_genres": genres,
            "_modes": modes,
        }

    def _new_user(self) -> int:
        u = self._next_user
        self._next_user += 1
        return u

    def _new_stream(self) -> _Stream:
        r = self.rng
        n = self._next_stream
        self._next_stream += 1
        if self._emitted_users and r.random() < 0.3:
            user = r.choice(self._emitted_users)  # a returning streamer
        else:
            user = self._new_user()
        sid = str(300_000_000_000 + 7919 * n)
        if r.random() < 0.01:  # "test stream": non-numeric id
            sid = f"test_stream_{n}"
        lang = "" if r.random() < 0.01 else r.choice(LANGUAGES)
        title = " ".join(r.choice(TITLE_WORDS) for _ in range(r.randint(3, 14)))
        return _Stream(
            id=sid,
            user=user,
            category=bisect.bisect_left(
                self._cat_cum, r.random() * self._cat_cum[-1]),
            language=lang,
            title=title[:140],
            started_at=(START_DAY + dt.timedelta(minutes=r.randint(0, 5000)))
            .strftime("%Y-%m-%dT%H:%M:%SZ"),
            mature=r.random() < 0.2,
            base_viewers=min(100_000, int(r.paretovariate(1.1) * 3) - 3),
            tags=r.sample(TAGS, r.randint(0, 3)),
        )

    @staticmethod
    def _user_id(u: int) -> str:
        # ~1% of users carry a non-numeric id; their streams are rejected
        return f"testuser{u}" if u % 97 == 13 else str(40_000_000 + 37 * u)

    def _user_record(self, u: int, btype: str | None = None) -> dict:
        r = self.rng
        return {
            "id": self._user_id(u),
            "login": f"streamer_{u}",
            "display_name": f"Streamer_{u}",
            "type": "" if r.random() < 0.95 else "staff",
            "broadcaster_type": btype if btype is not None else r.choice(
                ("", "", "", "affiliate", "affiliate", "partner")),
            "description": f"hi, I stream {r.choice(TITLE_WORDS)}",
            "profile_image_url": f"https://static-cdn.jtvnw.net/u/{u}-profile.png",
            "offline_image_url": "",
            "view_count": 0,
            "created_at": (dt.date(2015, 1, 1) + dt.timedelta(days=u % 3000))
            .strftime("%Y-%m-%dT00:00:00Z"),
        }

    # -- slots -------------------------------------------------------------

    def next_slot(self) -> Slot:
        r = self.rng
        day, tod = slot_ids(self.k)
        self.k += 1
        if self.k > 1:  # ~8% of streams end and are replaced each slot
            for i in range(len(self._live)):
                if r.random() < 0.08:
                    self._live[i] = self._new_stream()

        records = []
        for s in self._live:
            cat = self._categories[s.category]
            viewers = max(0, int(s.base_viewers * r.uniform(0.85, 1.15)))
            records.append({
                "id": s.id,
                "user_id": self._user_id(s.user),
                "user_login": f"streamer_{s.user}",
                "user_name": f"Streamer_{s.user}",
                "game_id": cat["id"],
                "game_name": cat["name"],
                "type": "live",
                "title": s.title,
                "viewer_count": viewers,
                "started_at": s.started_at,
                "language": s.language,
                "thumbnail_url": "https://static-cdn.jtvnw.net/previews-ttv/"
                f"live_user_streamer_{s.user}-{{width}}x{{height}}.jpg",
                "tag_ids": [],
                "tags": s.tags,
                "is_mature": s.mature,
            })
        n_shards = min(MAX_SHARDS, max(1, len(records) // 150))
        shards = [records[i::n_shards] for i in range(n_shards)]
        if n_shards > 1:  # cross-shard duplicates: full-record copies
            for rec in r.sample(records, len(records) // 60):
                shards[r.randrange(n_shards)].append(dict(rec))

        cats = sorted({s.category for s in self._live})
        categories = [
            {k: v for k, v in self._categories[c].items() if not k.startswith("_")}
            for c in cats
        ]
        categories += [dict(c) for c in r.sample(categories, len(categories) // 100)]

        users = []
        for s in self._live:
            u = s.user
            if u in self._emitted_set or u in self._banned or not self._user_id(u).isdigit():
                continue
            if r.random() < 0.01:
                self._banned.add(u)
                continue
            users.append(self._user_record(u))
            self._emitted_set.add(u)
            self._emitted_users.append(u)
        n_known = len(self._emitted_users) - len(users)
        for u in r.sample(self._emitted_users[:n_known], min(5, n_known)):
            users.append(self._user_record(u, btype="partner"))  # known id, new attributes

        genre, mode = [], []
        for c in cats:
            cat = self._categories[c]
            if not cat["igdb_id"]:
                continue
            base = {"id": int(cat["igdb_id"]), "name": cat["name"]}
            genre.append(base if cat["_genres"] is None else {**base, "genres": cat["_genres"]})
            mode.append(base if cat["_modes"] is None else {**base, "game_modes": cat["_modes"]})
        return Slot(day, tod, shards, categories, users, genre, mode)


def _write_envelope(path: str, day: str, tod: str, data: list[dict]) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        json.dump({"day_date_id": day, "time_of_day_id": tod, "data": data},
                  fh, indent=4, ensure_ascii=False)


def land_slot(root: str, slot: Slot) -> int:
    """Write one slot's raw files under ``root``; returns the file count."""
    day, tod = slot.day_date_id, slot.time_of_day_id
    files = [
        (RAW_DIRS["streams"], f"_{i:02d}", shard)
        for i, shard in enumerate(slot.stream_shards)
    ] + [
        (RAW_DIRS["categories"], "", slot.categories),
        (RAW_DIRS["users"], "", slot.users),
        (RAW_DIRS["genre_bridge"], "", slot.genre_bridge),
        (RAW_DIRS["game_mode_bridge"], "", slot.game_mode_bridge),
    ]
    for dataset, suffix, data in files:
        d = os.path.join(root, dataset, day)
        os.makedirs(d, exist_ok=True)
        _write_envelope(os.path.join(d, f"{dataset}_{day}_{tod}{suffix}.json"), day, tod, data)
    return len(files)


def land_streams(root: str, slot: Slot) -> int:
    """Write only the streams shards of a slot (the backfill input)."""
    d = os.path.join(root, RAW_DIRS["streams"], slot.day_date_id)
    os.makedirs(d, exist_ok=True)
    for i, shard in enumerate(slot.stream_shards):
        name = f"{RAW_DIRS['streams']}_{slot.day_date_id}_{slot.time_of_day_id}_{i:02d}.json"
        _write_envelope(os.path.join(d, name), slot.day_date_id, slot.time_of_day_id, shard)
    return len(slot.stream_shards)


def write_curated_week(
    path: str, seed: int, n_slots: int, rows_per_slot: int = STREAMS_PER_SLOT
) -> tuple[str, str, int]:
    """Curated fact rows and the category dim as flat parquet files.

    The ``n_slots`` slots are spread evenly over one week, so every
    day and every quarter-hour of the day has rows.
    Returns (fact_file, category_file, fact_rows). Category popularity
    and viewer counts are Zipf-like; users recur across slots, so the
    per-day distinct-streamer tile has real work to do.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    def text(ints):
        return pa.array(ints).cast(pa.string())

    rng = np.random.default_rng(seed)
    n = n_slots * rows_per_slot
    slot = pa.array(np.repeat(np.arange(n_slots), rows_per_slot))
    ids = [slot_ids(k * (WEEK_SLOTS // n_slots)) for k in range(n_slots)]
    cat = np.minimum(rng.zipf(1.3, n) - 1, N_CATEGORIES - 1)
    user = rng.integers(0, rows_per_slot * 6, n)
    viewers = np.minimum(rng.pareto(1.1, n) * 3, 100_000).astype(np.int32)
    fact = pa.table({
        "stream_id": text(300_000_000_000 + rng.integers(0, 10**9, n)),
        "day_date_id": pa.array([d for d, _ in ids]).take(slot),
        "time_of_day_id": pa.array([t for _, t in ids]).take(slot),
        "user_id": text(40_000_000 + 37 * user),
        "category_id": text(490_000 + 13 * cat),
        "language_id": pa.array(LANGUAGES).take(rng.integers(0, len(LANGUAGES), n)),
        "viewer_count": viewers,
        "hours_watched": viewers.astype(np.float64) * 0.25,
    })
    i = np.arange(N_CATEGORIES)
    dim = pa.table({
        "category_id": (490_000 + 13 * i).astype(str),
        "category_name": np.char.add("Game ", i.astype(str)),
        "igdb_id": np.where(i % 3 == 0, "NA", (1000 + 7 * i).astype(str)),
    })
    os.makedirs(path, exist_ok=True)
    fact_file = os.path.join(path, "fact.parquet")
    dim_file = os.path.join(path, "categories.parquet")
    pq.write_table(fact, fact_file, row_group_size=1 << 20)
    pq.write_table(dim, dim_file)
    return fact_file, dim_file, n
