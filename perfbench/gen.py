"""Seeded input generators for the three workloads.

Everything is a pure function of the seed: the same seed gives
byte-identical parquet files (``content_hash`` checks that).  The
engine only ever sees the files; the truths the answer checks need are
returned alongside them and never handed to the engine.

- ``visits_ledger``: a Metrica-shaped visits sign ledger -- multi-version
  visits with cancel rows (Sign, VisitVersion), nested TrafficSource /
  EPurchase arrays, power-law users and UTM sources.
- ``CdcFeed``: hits appends plus visits ledger batches (new visits, new
  versions with their cancel rows, deletions), a share of the versions
  landing late into already-closed weeks.
- ``corpus``: documents with injected exact copies, near-duplicate tails,
  unrelated overlapping pairs, PII and repeated lines, plus embeddings
  with injected near-duplicate vectors.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.date(1970, 1, 1)
DAY0 = dt.date(2024, 1, 1)  # a Monday: week partitions start on it

COUNTER_IDS = [101, 102, 103, 104, 105]
UTM_SOURCES = [f"src{i:02d}" for i in range(40)]
MEDIUMS = ["cpc", "organic", "email", "social", "referral"]
COUNTRIES = ["ru", "en", "de", "kz", "by", "tr"]

TS_TYPE = pa.list_(
    pa.struct(
        [
            ("ID", pa.int8()),
            ("Model", pa.int16()),
            ("UTMSource", pa.string()),
            ("UTMMedium", pa.string()),
            ("UTMCampaign", pa.string()),
        ]
    )
)
EP_TYPE = pa.list_(pa.struct([("ID", pa.string()), ("Revenue", pa.int64())]))
PP_TYPE = pa.list_(pa.struct([("Key1", pa.string()), ("Quantity", pa.int64())]))

VISITS_DDL = """
CREATE TABLE visits
(
    CounterID UInt32,
    StartDate Date,
    CounterUserIDHash UInt64,
    VisitID UInt64,
    Sign Int8,
    VisitVersion UInt32
)
ENGINE = VersionedCollapsingMergeTree(Sign, VisitVersion)
PARTITION BY toMonday(StartDate)
ORDER BY (CounterID, StartDate, CounterUserIDHash, VisitID)
SAMPLE BY CounterUserIDHash
"""


# ----------------------------------------------------------------- helpers
def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer: a well-spread uint64 per input uint64."""
    with np.errstate(over="ignore"):
        z = x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _unit(seed: int, key: np.ndarray, salt: int) -> np.ndarray:
    """Uniform [0, 1) per key, a pure function of (seed, key, salt)."""
    with np.errstate(over="ignore"):
        h = _mix(key.astype(np.uint64) * np.uint64(0x100000001B3) + np.uint64(seed * 1_000_003 + salt))
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def _power_cdf(n: int, a: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** a
    return np.cumsum(w) / w.sum()


def _user_hash(seed: int, user: np.ndarray) -> np.ndarray:
    return _mix(user.astype(np.uint64) + np.uint64(seed) * np.uint64(1 << 32)).view(np.int64)


def day_of(idx) -> dt.date:
    return DAY0 + dt.timedelta(days=int(idx))


def content_hash(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(os.path.basename(p).encode())
            h.update(f.read())
    return h.hexdigest()


def _write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return path


def _lists(counts: np.ndarray, children: pa.Array, type_) -> pa.Array:
    offsets = np.concatenate([[0], np.cumsum(counts)]).astype(np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets), children).cast(type_)


def _entries(visit_id: np.ndarray, counts: np.ndarray):
    """(entry visit id, entry position) for a per-row entry count."""
    owner = np.repeat(visit_id, counts)
    starts = np.repeat(np.cumsum(counts) - counts, counts)
    pos = np.arange(len(owner)) - starts
    return owner, pos


_SRC_CDF = _power_cdf(len(UTM_SOURCES), 1.1)


def _visit_rows(
    seed: int,
    visit_id: np.ndarray,
    day: np.ndarray,
    user: np.ndarray,
    counter: np.ndarray,
    version: np.ndarray,
    sign: np.ndarray,
) -> pa.Table:
    """Ledger rows.  Nested groups are a pure function of the visit id
    (stable across versions); the metrics of a state are a function of
    (visit id, version), so a cancel row repeats the state it cancels."""
    vkey = visit_id.astype(np.uint64) * np.uint64(64) + version.astype(np.uint64)
    duration = (-np.log1p(-_unit(seed, vkey, 1)) * 120).astype(np.int64)
    bounce = (_unit(seed, vkey, 2) < 0.3).astype(np.int16)
    pageviews = (1 + _unit(seed, vkey, 3) * 12).astype(np.int32)

    n_ts = (1 + _unit(seed, visit_id, 4) * 3).astype(np.int64)
    owner, pos = _entries(visit_id, n_ts)
    ekey = owner.astype(np.uint64) * np.uint64(8) + pos.astype(np.uint64)
    model = (1 + _unit(seed, ekey, 5) * 3).astype(np.int16)
    src_idx = np.searchsorted(_SRC_CDF, _unit(seed, ekey, 6))
    src = np.array(UTM_SOURCES, dtype=object)[np.minimum(src_idx, len(UTM_SOURCES) - 1)]
    src[_unit(seed, ekey, 7) < 0.12] = ""
    medium = np.array(MEDIUMS, dtype=object)[(_unit(seed, ekey, 8) * len(MEDIUMS)).astype(int)]
    ts = _lists(
        n_ts,
        pa.StructArray.from_arrays(
            [
                pa.array((pos + 1).astype(np.int8)),
                pa.array(model),
                pa.array(src, pa.string()),
                pa.array(medium, pa.string()),
                pa.array(np.full(len(owner), "", dtype=object), pa.string()),
            ],
            names=["ID", "Model", "UTMSource", "UTMMedium", "UTMCampaign"],
        ),
        TS_TYPE,
    )

    u = _unit(seed, visit_id, 9)
    n_ep = np.where(u < 0.7, 0, np.where(u < 0.9, 1, 2)).astype(np.int64)
    owner, pos = _entries(visit_id, n_ep)
    ekey = owner.astype(np.uint64) * np.uint64(8) + pos.astype(np.uint64)
    pid = (_unit(seed, ekey, 10) * 1_000_000).astype(np.int64)
    ids = np.array([f"p{p}" for p in pid], dtype=object)
    ids[_unit(seed, ekey, 11) < 0.3] = ""
    ep = _lists(
        n_ep,
        pa.StructArray.from_arrays(
            [pa.array(ids, pa.string()), pa.array((pid % 5000).astype(np.int64))],
            names=["ID", "Revenue"],
        ),
        EP_TYPE,
    )
    pp = _lists(
        np.zeros(len(visit_id), dtype=np.int64),
        pa.StructArray.from_arrays(
            [pa.array([], pa.string()), pa.array([], pa.int64())], names=["Key1", "Quantity"]
        ),
        PP_TYPE,
    )
    return pa.table(
        {
            "CounterID": pa.array(counter.astype(np.int64)),
            "StartDate": pa.array(day.astype(np.int32) + (DAY0 - EPOCH).days, pa.date32()),
            "CounterUserIDHash": pa.array(_user_hash(seed, user)),
            "VisitID": pa.array(visit_id.astype(np.int64)),
            "Sign": pa.array(sign.astype(np.int8)),
            "VisitVersion": pa.array(version.astype(np.int32)),
            "Duration": pa.array(duration),
            "IsBounce": pa.array(bounce),
            "PageViews": pa.array(pageviews),
            "TrafficSource": ts,
            "EPurchase": ep,
            "ParsedParams": pp,
        }
    )


def _users(rng: np.random.Generator, n: int) -> np.ndarray:
    return np.minimum(rng.zipf(1.4, n), 50_000)


def _counters(rng: np.random.Generator, n: int) -> np.ndarray:
    return rng.choice(COUNTER_IDS, size=n, p=[0.5, 0.2, 0.15, 0.1, 0.05])


# ------------------------------------------------------------ dashboard
def visits_ledger(seed: int, n_visits: int, n_days: int, out_path: str) -> dict:
    """Write a sign ledger of ``n_visits`` visits over ``n_days`` days
    starting at DAY0; returns its path."""
    rng = np.random.default_rng([seed, 1])
    vid = np.arange(1, n_visits + 1, dtype=np.int64) + 10_000_000
    day = rng.integers(0, n_days, n_visits)
    user = _users(rng, n_visits)
    counter = _counters(rng, n_visits)
    nver = np.minimum(rng.geometric(0.6, n_visits), 5)
    deleted = rng.random(n_visits) < 0.02
    # state rows (v = 1..V, +1) and cancel rows (v < V, or v = V when
    # the visit was deleted, -1)
    owner = np.repeat(np.arange(n_visits), nver)
    ver = np.arange(len(owner)) - np.repeat(np.cumsum(nver) - nver, nver) + 1
    is_last = ver == nver[owner]
    cancel = ~is_last | deleted[owner]
    rows = np.concatenate([owner, owner[cancel]])
    version = np.concatenate([ver, ver[cancel]])
    sign = np.concatenate([np.ones(len(owner)), -np.ones(int(cancel.sum()))])
    order = np.lexsort((-sign, version, rows))
    rows, version, sign = rows[order], version[order], sign[order]
    table = _visit_rows(seed, vid[rows], day[rows], user[rows], counter[rows], version, sign)
    _write(table, out_path)
    return {"path": out_path}


def counters(seed: int, out_path: str) -> str:
    """Write the counter dimension table (CounterID, Params JSON text).
    Some counters carry two rows, so an ANY JOIN has to pick one."""
    rng = np.random.default_rng([seed, 5])
    ids, params = [], []
    for cid in COUNTER_IDS:
        for _ in range(int(rng.integers(1, 3))):
            ids.append(cid)
            params.append(
                json.dumps({"name": f"site{int(rng.integers(100)):02d}", "tz": int(rng.integers(-3, 6))})
            )
    table = pa.table({"CounterID": pa.array(ids, pa.int64()), "Params": pa.array(params, pa.string())})
    return _write(table, out_path)


# ----------------------------------------------------------- replication
HITS_SCHEMA = pa.schema(
    [
        ("CounterID", pa.int64()),
        ("EventDate", pa.date32()),
        ("CounterUserIDHash", pa.int64()),
        ("UTCEventTime", pa.timestamp("us", tz="UTC")),
        ("WatchID", pa.int64()),
        ("AdvEngineID", pa.int32()),
        ("BrowserCountry", pa.string()),
        ("URL", pa.string()),
    ]
)


BATCHES_PER_DAY = 4
HITS_PER_BATCH = 2000
NEW_VISITS = 400  # per batch
UPDATES = 150  # per batch: cancel row of the live version + the next version
DELETES = 8  # per batch: a lone cancel row
LATE_SHARE = 0.25  # of the updates, into weeks that are already closed


class CdcFeed:
    """A seeded sequence of CDC batches written to a staging directory.

    Batch ``b`` belongs to simulated day ``b // BATCHES_PER_DAY``.  Each
    batch holds a hits append file and a visits ledger file: new visits
    of the day, updates (cancel row of the live version plus the next
    version) and a few deletions (a lone cancel row).  ``LATE_SHARE`` of
    the updates hit visits whose week is already closed.

    Truth kept per batch: the visits sign sum per day and the hits row
    count.
    """

    def __init__(self, seed: int, staging: str):
        self.seed = seed
        self.staging = staging
        self.rng = np.random.default_rng([seed, 2])
        # live-visit state
        self.vid = np.zeros(0, np.int64)
        self.vday = np.zeros(0, np.int64)
        self.vuser = np.zeros(0, np.int64)
        self.vcounter = np.zeros(0, np.int64)
        self.vver = np.zeros(0, np.int64)
        self.valive = np.zeros(0, bool)
        self.next_watch = 1
        self.batches: list[dict] = []

    @staticmethod
    def day_of_batch(b: int) -> int:
        return b // BATCHES_PER_DAY

    def make(self, n: int) -> list[dict]:
        for _ in range(n):
            self.batches.append(self._batch(len(self.batches)))
        return self.batches

    def _batch(self, b: int) -> dict:
        rng = self.rng
        day = self.day_of_batch(b)
        # new visits
        nv = NEW_VISITS
        base = len(self.vid)
        new_id = np.arange(base, base + nv, dtype=np.int64) + 50_000_000
        self.vid = np.concatenate([self.vid, new_id])
        self.vday = np.concatenate([self.vday, np.full(nv, day)])
        self.vuser = np.concatenate([self.vuser, _users(rng, nv)])
        self.vcounter = np.concatenate([self.vcounter, _counters(rng, nv)])
        self.vver = np.concatenate([self.vver, np.ones(nv, np.int64)])
        self.valive = np.concatenate([self.valive, np.ones(nv, bool)])
        parts = [(np.arange(base, base + nv), np.ones(nv, np.int64), np.ones(nv))]
        # updates: late ones into closed weeks, the rest into this week
        week = day // 7
        alive = np.flatnonzero(self.valive[:base])
        closed = alive[self.vday[alive] // 7 < week]
        current = alive[self.vday[alive] // 7 == week]
        n_late = min(len(closed), int(round(UPDATES * LATE_SHARE)))
        n_cur = min(len(current), UPDATES - n_late)
        upd = np.concatenate(
            [
                rng.choice(closed, n_late, replace=False) if n_late else np.zeros(0, np.int64),
                rng.choice(current, n_cur, replace=False) if n_cur else np.zeros(0, np.int64),
            ]
        ).astype(np.int64)
        if len(upd):
            old = self.vver[upd].copy()
            self.vver[upd] = old + 1
            parts.append((upd, old, -np.ones(len(upd))))
            parts.append((upd, old + 1, np.ones(len(upd))))
        rest = np.setdiff1d(np.flatnonzero(self.valive[:base]), upd)
        nd = min(DELETES, len(rest))
        if nd:
            dels = rng.choice(rest, nd, replace=False)
            self.valive[dels] = False
            parts.append((dels, self.vver[dels].copy(), -np.ones(nd)))
        idx = np.concatenate([p[0] for p in parts])
        ver = np.concatenate([p[1] for p in parts])
        sign = np.concatenate([p[2] for p in parts])
        visits = _visit_rows(
            self.seed, self.vid[idx], self.vday[idx], self.vuser[idx],
            self.vcounter[idx], ver, sign,
        )
        vdays = self.vday[idx]
        sign_by_day = {int(d): int(sign[vdays == d].sum()) for d in np.unique(vdays)}
        # hits of the day
        nh = HITS_PER_BATCH
        watch = np.arange(self.next_watch, self.next_watch + nh, dtype=np.int64)
        self.next_watch += nh
        span = 86_400 // BATCHES_PER_DAY
        secs = np.sort(rng.integers(0, span, nh)) + (b % BATCHES_PER_DAY) * span
        day_us = ((DAY0 - EPOCH).days + day) * 86_400 * 1_000_000
        hits = pa.table(
            {
                "CounterID": pa.array(_counters(rng, nh).astype(np.int64)),
                "EventDate": pa.array(np.full(nh, (DAY0 - EPOCH).days + day, np.int32), pa.date32()),
                "CounterUserIDHash": pa.array(_user_hash(self.seed, _users(rng, nh))),
                "UTCEventTime": pa.array(day_us + secs * 1_000_000, pa.timestamp("us", tz="UTC")),
                "WatchID": pa.array(watch),
                "AdvEngineID": pa.array(rng.integers(0, 30, nh).astype(np.int32)),
                "BrowserCountry": pa.array(rng.choice(COUNTRIES, nh), pa.string()),
                "URL": pa.array([f"https://shop.example/p/{k}" for k in rng.integers(0, 5000, nh)], pa.string()),
            },
            schema=HITS_SCHEMA,
        )
        name = f"b{b:05d}.parquet"
        return {
            "b": b,
            "day": day,
            "hits_file": _write(hits, os.path.join(self.staging, "hits", name)),
            "visits_file": _write(visits, os.path.join(self.staging, "visits", name)),
            "hits_rows": nh,
            "visits_rows": visits.num_rows,
            "sign_by_day": sign_by_day,
            "late_rows": 2 * n_late,
        }


# -------------------------------------------------------------- curation
_WORD_CDF_A = 1.05
CORPUS_FILES = 4
_PII = [
    lambda r: f"mail user{r.integers(1_000_000)}@example{r.integers(100)}.com now",
    lambda r: f"call {r.integers(200, 999)}-{r.integers(200, 999)}-{r.integers(1000, 9999)} today",
    lambda r: f"host {r.integers(1, 255)}.{r.integers(0, 255)}.{r.integers(0, 255)}.{r.integers(1, 255)} up",
]


def toks(text: str) -> list[str]:
    """The engine's tokenizer (operators.text.tokens) in Python."""
    cleaned = re.sub(r"[^a-z0-9]+", " ", text.lower()).strip()
    return cleaned.split() if cleaned else []


def shingles(text: str, k: int = 3) -> set[str]:
    t = toks(text)
    return {" ".join(t[i : i + k]) for i in range(len(t) - k + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb) if sa | sb else 0.0


def corpus(seed: int, n_base: int, out_dir: str, dim: int = 64) -> dict:
    """Write ``docs/`` (doc_id, text) and ``emb/`` (doc_id, embedding),
    CORPUS_FILES parquet files each, and return the injected truth."""
    rng = np.random.default_rng([seed, 3])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = sorted({"".join(rng.choice(letters, rng.integers(3, 10))) for _ in range(4000)})
    vocab = np.array(vocab, dtype=object)
    cdf = _power_cdf(len(vocab), _WORD_CDF_A)

    def words(n: int) -> list[str]:
        return list(vocab[np.minimum(np.searchsorted(cdf, rng.random(n)), len(vocab) - 1)])

    def lines(ws: list[str]) -> str:
        return "\n".join(" ".join(ws[i : i + 12]) for i in range(0, len(ws), 12))

    # document lengths are a fixed multiset in seeded order, so every
    # seed's corpus holds the same number of tokens
    lengths = rng.permutation(np.linspace(60, 140, n_base).astype(int))
    docs: dict[int, str] = {}
    for i in range(1, n_base + 1):
        docs[i] = lines(words(int(lengths[i - 1])))
    ids = np.arange(1, n_base + 1)
    pick = rng.permutation(ids)
    n_exact, n_near, n_far, n_pii, n_rep = (int(n_base * s) for s in (0.05, 0.08, 0.03, 0.08, 0.04))
    exact_src = pick[:n_exact]
    near_src = pick[n_exact : n_exact + n_near]
    far_src = pick[n_exact + n_near : n_exact + n_near + n_far]
    pii_ids = pick[n_exact + n_near + n_far : n_exact + n_near + n_far + n_pii]
    rep_ids = pick[n_exact + n_near + n_far + n_pii : n_exact + n_near + n_far + n_pii + n_rep]
    for i in pii_ids:
        ws = docs[int(i)].split("\n")
        ws.insert(int(rng.integers(len(ws) + 1)), _PII[int(rng.integers(3))](rng))
        docs[int(i)] = "\n".join(ws)
    for i in rep_ids:
        ls = docs[int(i)].split("\n")
        docs[int(i)] = "\n".join(ls + ls[: max(1, len(ls) // 2)])
    nxt = n_base + 1
    exact_pairs, near_pairs, far_pairs = [], [], []
    for i in exact_src:
        docs[nxt] = docs[int(i)]
        exact_pairs.append((int(i), nxt))
        nxt += 1
    for i in near_src:
        src = docs[int(i)]
        cand = src + " " + " ".join(words(int(rng.integers(2, 6))))
        j = jaccard(src, cand)
        if j < 0.8:
            raise AssertionError(f"near-dup tail below threshold: {j}")
        docs[nxt] = cand
        near_pairs.append((int(i), nxt))
        nxt += 1
    for i in far_src:
        src_toks = docs[int(i)].split()
        seg = src_toks[:15]
        cand = lines(words(int(rng.integers(70, 120))) + seg)
        j = jaccard(docs[int(i)], cand)
        if j > 0.2:
            raise AssertionError(f"unrelated pair above 0.2: {j}")
        docs[nxt] = cand
        far_pairs.append((int(i), nxt))
        nxt += 1
    doc_ids = np.array(sorted(docs), dtype=np.int64)
    pq_docs = pa.table(
        {"doc_id": pa.array(doc_ids), "text": pa.array([docs[int(i)] for i in doc_ids], pa.string())}
    )
    # embeddings: one per doc; near-duplicate vectors are exact scaled
    # copies (cosine 1) of a kept doc's vector
    vecs = rng.standard_normal((len(doc_ids), dim))
    row = {int(d): k for k, d in enumerate(doc_ids)}
    exact_copies = {b for _, b in exact_pairs}
    near_copies = {b for _, b in near_pairs}
    text_kept = [int(d) for d in doc_ids if int(d) not in exact_copies and int(d) not in near_copies]
    order = rng.permutation(len(text_kept))
    n_vdup = int(len(text_kept) * 0.05)
    vec_pairs = []
    for k in range(n_vdup):
        a, b = text_kept[order[2 * k]], text_kept[order[2 * k + 1]]
        a, b = min(a, b), max(a, b)
        vecs[row[b]] = vecs[row[a]] * 1.5
        vec_pairs.append((a, b))
    emb = pa.table(
        {
            "doc_id": pa.array(doc_ids),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        }
    )
    paths = []
    for name, table in (("docs", pq_docs), ("emb", emb)):
        # CORPUS_FILES files per table, so the scan has that many splits
        step = -(-table.num_rows // CORPUS_FILES)
        for k in range(CORPUS_FILES):
            _write(table.slice(k * step, step), os.path.join(out_dir, name, f"part-{k}.parquet"))
        paths.append(os.path.join(out_dir, name))
    vec_drop = {b for _, b in vec_pairs}
    kept = sorted(set(text_kept) - vec_drop)
    return {
        "docs": len(doc_ids),
        "exact_pairs": exact_pairs,
        "near_pairs": near_pairs,
        "far_pairs": far_pairs,
        "vec_pairs": vec_pairs,
        "pii_ids": sorted(int(i) for i in pii_ids),
        "kept": kept,
        "n_tokens": {int(d): len(toks(docs[int(d)])) for d in doc_ids},
        "text": docs,
        "paths": paths,
    }
