"""Seeded input generators for the sketch benchmark.

Everything here is numpy/pyarrow only: the inputs (and the exact answers
the checks compare against) are produced by the benchmark itself from
``--seed``, and the program under test only ever sees the parquet files.
The same seed always produces byte-identical inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Odd multiplier that scatters dense user indexes over a 2^40 id space
#: (a bijection modulo 2^40, so distinct indexes stay distinct ids).
_ID_SCRAMBLE = 0x9E3779B97F4A7C15 % (1 << 40) | 1
_ID_MASK = (1 << 40) - 1


@dataclass(frozen=True)
class Sizes:
    """Input sizes for one benchmark profile."""

    events: int  # event-log rows
    users: int  # user population the Zipf-skewed user_id is drawn from
    days: int
    countries: int
    campaigns: int
    slice_rows: int  # raw-row slice the SQL-surface queries read
    docs: int  # dedup corpus size before planted near-duplicates
    doc_words: int
    vocab: int
    queries: int  # seeded query pool of the rollup workload


SIZES = {
    "full": Sizes(
        events=1_000_000, users=250_000, days=14, countries=20, campaigns=40,
        slice_rows=40_000, docs=2_000, doc_words=40, vocab=20_000, queries=48,
    ),
    "tiny": Sizes(
        events=3_000, users=1_500, days=3, countries=3, campaigns=4,
        slice_rows=600, docs=120, doc_words=30, vocab=5_000, queries=18,
    ),
}


def _user_index(rng: np.random.Generator, n: int, users: int) -> np.ndarray:
    """Zipf-like skew: density falls off as x^(-2/3) over [0, users)."""
    return np.minimum((users * rng.random(n) ** 3).astype(np.int64), users - 1)


def user_ids(index: np.ndarray) -> np.ndarray:
    return (index * _ID_SCRAMBLE) & _ID_MASK


def distinct_per_key(keys: np.ndarray, values: np.ndarray) -> dict[int, int]:
    """Exact number of distinct ``values`` per ``keys`` entry (both
    non-negative int64)."""
    if len(keys) == 0:
        return {}
    span = int(values.max()) + 1
    pairs = np.unique(keys.astype(np.int64) * span + values)
    k, c = np.unique(pairs // span, return_counts=True)
    return dict(zip(k.tolist(), c.tolist()))


@dataclass
class Events:
    """Generated event log plus the column arrays the exact answers use."""

    table: pa.Table
    user: np.ndarray  # dense user index (0..users-1)
    device: np.ndarray  # dense device index
    day: np.ndarray
    country: np.ndarray
    campaign: np.ndarray

    def mask(self, lo: int, hi: int) -> np.ndarray:
        return (self.day >= lo) & (self.day <= hi)


def events(rng: np.random.Generator, sz: Sizes) -> Events:
    """``sz.events`` rows of (user_id BIGINT, day INT, country INT,
    campaign INT, device STRUCT<os INT, model BIGINT>).

    Every user owns two devices; the device column is the struct-typed
    input that only the type-aware cardinality hash can sketch.
    """
    n = sz.events
    user = _user_index(rng, n, sz.users)
    device = user * 2 + rng.integers(0, 2, n)
    day = rng.integers(0, sz.days, n).astype(np.int32)
    country = np.minimum(
        (sz.countries * rng.random(n) ** 2).astype(np.int32), sz.countries - 1
    )
    campaign = rng.integers(0, sz.campaigns, n).astype(np.int32)
    dev = pa.StructArray.from_arrays(
        [pa.array((device % 7).astype(np.int32)), pa.array(user_ids(device) ^ 0x5A5A)],
        ["os", "model"],
    )
    table = pa.table(
        {
            "user_id": pa.array(user_ids(user)),
            "day": pa.array(day),
            "country": pa.array(country),
            "campaign": pa.array(campaign),
            "device": dev,
        }
    )
    return Events(table, user, device, day, country, campaign)


def write_parquet(table: pa.Table, path: str, row_groups: int = 4) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=max(1, -(-table.num_rows // row_groups)))
    return path


# ---------------------------------------------------------------------------
# ingest: exact answers for the read-back check
# ---------------------------------------------------------------------------


@dataclass
class IngestTruth:
    groups: int  # non-empty (day, country, campaign) groups
    users_by_day_country: dict[int, int]  # key day * countries + country
    devices_by_day_country: dict[int, int]


def ingest_truth(ev: Events, sz: Sizes) -> IngestTruth:
    g = (ev.day.astype(np.int64) * sz.countries + ev.country) * sz.campaigns + ev.campaign
    dc = ev.day.astype(np.int64) * sz.countries + ev.country
    return IngestTruth(
        groups=len(np.unique(g)),
        users_by_day_country=distinct_per_key(dc, ev.user),
        devices_by_day_country=distinct_per_key(dc, ev.device),
    )


# ---------------------------------------------------------------------------
# rollup query pool and the SQL-surface probe's raw-row slice
# ---------------------------------------------------------------------------

#: Rollup query kinds, issued in this fixed rotation so every run sees
#: the same mix; only the parameters come from the seed.
QUERY_KINDS = ("merge_by_day_country", "merge_campaign", "intersect", "row_merge")
#: Day-range widths, as shares of the table's days (0 = one day).  Every
#: rotation covers each width once, shifted one kind per rotation, so the
#: work in a rotation does not depend on the seed.
RANGE_SHARES = (1.0, 0.0, 0.5, 0.25)


@dataclass
class Slice:
    """Raw rows for the SQL-surface ingest: user_id, day, and an
    ``items`` array<bigint> column (some rows NULL, some empty)."""

    table: pa.Table
    users_by_day: dict[int, int]
    items_by_day: dict[int, int]


def sql_slice(rng: np.random.Generator, sz: Sizes) -> Slice:
    n = sz.slice_rows
    user = _user_index(rng, n, sz.users)
    day = rng.integers(0, sz.days, n).astype(np.int32)
    null_rows = rng.random(n) < 0.05
    lengths = np.where(null_rows, 0, rng.integers(0, 6, n))
    values = rng.integers(0, 4 * sz.users, int(lengths.sum())).astype(np.int64)
    offsets = np.concatenate([[0], np.cumsum(lengths)]).astype(np.int32)
    items = pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(values), mask=pa.array(null_rows)
    )
    table = pa.table({"user_id": pa.array(user_ids(user)), "day": pa.array(day), "items": items})
    item_day = np.repeat(day, lengths).astype(np.int64)
    return Slice(
        table,
        distinct_per_key(day.astype(np.int64), user),
        distinct_per_key(item_day, values),
    )


@dataclass
class Query:
    """One seeded rollup; ``exact`` maps result key -> exact answer."""

    kind: str
    lo: int
    hi: int
    country: int = 0
    campaign: int = 0
    exact: dict = field(default_factory=dict)


def query_pool(rng: np.random.Generator, sz: Sizes, ev: Events) -> list[Query]:
    """``sz.queries`` rollups cycling through :data:`QUERY_KINDS`, from
    one-day to full-table day ranges, with their exact answers."""
    out = []
    for i in range(sz.queries):
        kind = QUERY_KINDS[i % len(QUERY_KINDS)]
        share = RANGE_SHARES[(i + i // len(QUERY_KINDS)) % len(RANGE_SHARES)]
        width = max(1, round(share * sz.days))
        lo = int(rng.integers(0, sz.days - width + 1))
        q = Query(
            kind, lo, lo + width - 1,
            country=int(rng.integers(0, min(5, sz.countries))),
            campaign=int(rng.integers(0, sz.campaigns)),
        )
        m = ev.mask(q.lo, q.hi)
        if kind == "merge_by_day_country":
            q.exact = distinct_per_key(
                ev.day[m].astype(np.int64) * sz.countries + ev.country[m], ev.user[m]
            )
        elif kind == "merge_campaign":
            q.exact = {0: len(np.unique(ev.user[m & (ev.campaign == q.campaign)]))}
        elif kind == "intersect":
            a = np.unique(ev.user[m & (ev.country == q.country)])
            b = np.unique(ev.user[m & (ev.campaign == q.campaign)])
            q.exact = {"a": len(a), "b": len(b), "both": len(np.intersect1d(a, b))}
        else:
            q.exact = {0: len(np.unique(ev.user[m])) + len(np.unique(ev.device[m]))}
        out.append(q)
    return out


# ---------------------------------------------------------------------------
# dedup: corpus with planted near-duplicates
# ---------------------------------------------------------------------------


@dataclass
class Corpus:
    table: pa.Table
    texts: dict[int, str]
    planted: set[tuple[int, int]]  # (original id, copy id)
    family: dict[int, int]  # doc id -> id of the original it derives from


def corpus(rng: np.random.Generator, sz: Sizes) -> Corpus:
    """``sz.docs`` random documents plus 10 % planted near-duplicates,
    each a copy of a random original with one or two words replaced."""
    vocab = np.array([f"w{i:05d}" for i in range(sz.vocab)])
    words = vocab[rng.integers(0, sz.vocab, (sz.docs, sz.doc_words))]
    texts = {i: " ".join(row) for i, row in enumerate(words)}
    family = {i: i for i in range(sz.docs)}
    planted = set()
    for j in range(sz.docs // 10):
        src = int(rng.integers(0, sz.docs))
        row = words[src].copy()
        for pos in rng.choice(sz.doc_words, int(rng.integers(1, 3)), replace=False):
            row[pos] = f"x{int(rng.integers(0, 10**6)):06d}"
        cid = sz.docs + j
        texts[cid] = " ".join(row)
        family[cid] = src
        planted.add((src, cid))
    ids = sorted(texts)
    table = pa.table(
        {"doc_id": pa.array(ids, pa.int64()), "text": pa.array([texts[i] for i in ids])}
    )
    return Corpus(table, texts, planted, family)


def shingle_set(text: str, n: int = 3) -> set[str]:
    w = text.split()
    return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    return len(sa & sb) / len(sa | sb)
