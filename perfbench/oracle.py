"""Expected answers computed apart from the program.

- memories: pandas over the raw `events` parquet, following the mapping in
  the docstring of `sources/memories.py` (keys, types, policies, TTLs and
  expiry by policy);
- vectors: numpy exact cosine over the raw `embeddings` parquet;
- BM25: pure Python over the raw document texts, with the tokenization of
  `retrieval.bm25_search` (lower-case, trim, split on whitespace);
- hash embedder: the md5 chain described in `sources/embedders.py`.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

TYPE_OF_EVENT = {"click": "ephemeral", "view": "short_term", "purchase": "long_term", "signup": "permanent"}
DEFAULT_TTL = {"ephemeral": 300, "short_term": 3600, "long_term": 604800, "permanent": 0}
SCORE_TOL = 1e-6


def expiry(policy: str, ttl, created, last_accessed):
    """X9 expiry by policy: never or no positive TTL -> None."""
    if policy == "never" or ttl is None or ttl <= 0:
        return None
    base = last_accessed if policy == "sliding" else created
    return base + dt.timedelta(seconds=int(ttl))


def memories(events_path: str) -> pd.DataFrame:
    """The derived memories state, one row per event, indexed by key."""
    ev = pq.read_table(events_path, columns=["event_id", "ts", "event_type", "props"]).to_pandas()
    eid = ev["event_id"].to_numpy()
    mtype = ev["event_type"].map(TYPE_OF_EVENT).fillna("short_term")
    policy = np.where(mtype == "permanent", "never", np.where(mtype == "ephemeral", "sliding", "absolute"))
    created = ev["ts"]
    last = created + pd.to_timedelta(eid % 7200, unit="s")
    ttl = (mtype.map(DEFAULT_TTL) + (eid % 5) * 60).where(mtype != "permanent", 0)
    ttl = ttl.astype(object).where(eid % 10 != 0, None)
    # X9: never or no positive TTL -> no expiry; sliding from last access
    ttl_s = pd.to_timedelta(pd.to_numeric(ttl), unit="s")
    expires = (last + ttl_s).where(policy == "sliding", created + ttl_s)
    expires = expires.where((policy != "never") & (pd.to_numeric(ttl).fillna(0) > 0))
    df = pd.DataFrame(
        {
            "key": "mem-" + ev["event_id"].astype(str),
            "data": ev["props"],
            "memory_type": mtype,
            "expiration_policy": policy,
            "created_at": created,
            "updated_at": created,
            "last_accessed_at": last,
            "ttl_seconds": ttl,
            "access_count": eid % 50,
            "expires_at": expires,
            "bucket": (ev["event_id"] % 3).astype(str),
        }
    )
    df.index = df["key"].to_numpy()
    return df


def plain(value):
    """A cell as a Python value: missing (NaT, NaN, None) as None."""
    return None if pd.isna(value) else value


def row(df: pd.DataFrame, key: str) -> dict:
    return {k: plain(v) for k, v in df.loc[key].to_dict().items()}


def live_mask(df: pd.DataFrame, now: dt.datetime) -> np.ndarray:
    """F3: expires_at IS NULL OR expires_at > now."""
    exp = df["expires_at"]
    return (exp.isna() | (exp > now)).to_numpy()


def expired_mask(df: pd.DataFrame, now: dt.datetime) -> np.ndarray:
    """expires_at IS NOT NULL AND expires_at <= now."""
    return ~live_mask(df, now)


def page(df: pd.DataFrame, limit: int, offset: int) -> list[str]:
    """memory_list order: created_at, then key."""
    return list(df.sort_values(["created_at", "key"], kind="mergesort")["key"].iloc[offset : offset + limit])


def replay_access(row: dict, accesses: list[dt.datetime]) -> dict | None:
    """Replay reads in time order as the reference's get() does: a read
    before creation misses, a read at or after expiry deletes the row (None),
    a live read touches it and slides a sliding expiry."""
    row = dict(row)
    expires = row["expires_at"]
    sliding = row["expiration_policy"] == "sliding" and row["ttl_seconds"] is not None and row["ttl_seconds"] > 0
    touched = []
    for ts in sorted(accesses):
        if ts < row["created_at"]:
            continue
        if expires is not None and ts >= expires:
            return None
        touched.append(ts)
        if sliding:
            expires = ts + dt.timedelta(seconds=int(row["ttl_seconds"]))
    if touched:
        row["access_count"] += len(touched)
        row["last_accessed_at"] = max(row["last_accessed_at"], touched[-1])
        if sliding:
            row["expires_at"] = row["last_accessed_at"] + dt.timedelta(seconds=int(row["ttl_seconds"]))
    return row


# ------------------------------------------------------------------ vectors


def load_vectors(path: str) -> tuple[np.ndarray, np.ndarray]:
    t = pq.read_table(path, columns=["vec_id", "embedding"])
    ids = t.column("vec_id").to_numpy()
    x = np.stack(t.column("embedding").to_pylist()).astype(np.float64)
    return ids, x


def cosine(x: np.ndarray, q: np.ndarray) -> np.ndarray:
    nx = np.linalg.norm(x, axis=1)
    nq = float(np.linalg.norm(q))
    with np.errstate(invalid="ignore", divide="ignore"):
        c = (x @ q) / (nx * nq)
    return np.where((nx == 0) | (nq == 0), 0.0, c)


def topk(ids: np.ndarray, scores: np.ndarray, k: int) -> list[tuple[int, float]]:
    """Top k by score desc, id asc (the program's tie-break)."""
    order = np.lexsort((ids, -np.round(scores, 9)))[:k]
    return [(int(ids[i]), float(scores[i])) for i in order]


def same_ranking(got: list[tuple[int, float]], want: list[tuple[int, float]], score_of) -> bool:
    """`got` matches `want` when both have the same length, scores agree
    rank by rank within SCORE_TOL, ids are distinct, and each returned id
    carries its own true score. Ids may differ only inside score ties."""
    if len(got) != len(want):
        return False
    if len({i for i, _ in got}) != len(got):
        return False
    for (gi, gs), (_wi, ws) in zip(got, want):
        if abs(gs - ws) > SCORE_TOL or abs(gs - score_of(gi)) > SCORE_TOL:
            return False
    return True


# --------------------------------------------------------------------- BM25


def tokens(text: str) -> list[str]:
    t = text.lower().strip()
    return t.split() if t else []


class Bm25:
    """Lucene BM25 over an id -> text corpus that grows by `add`."""

    def __init__(self, k1: float = 1.2, b: float = 0.75):
        self.k1, self.b = k1, b
        self.tf: dict[int, dict[str, int]] = {}
        self.dl: dict[int, int] = {}

    def add(self, doc_id: int, text: str) -> None:
        toks = tokens(text)
        counts: dict[str, int] = {}
        for t in toks:
            counts[t] = counts.get(t, 0) + 1
        self.tf[doc_id] = counts
        self.dl[doc_id] = len(toks)

    def search(self, query: str, k: int) -> list[tuple[int, float]]:
        terms = sorted({t for t in query.lower().split() if t})
        n = float(len(self.dl))
        avgdl = sum(self.dl.values()) / n
        df = {t: float(sum(1 for c in self.tf.values() if t in c)) for t in terms}
        idf = {t: math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5)) for t in terms}
        out = []
        for doc_id, counts in self.tf.items():
            score, matched = 0.0, 0
            for t in terms:
                tf = float(counts.get(t, 0))
                if tf > 0:
                    matched += 1
                    norm = self.k1 * (1 - self.b + self.b * self.dl[doc_id] / avgdl)
                    score += idf[t] * tf * (self.k1 + 1) / (tf + norm)
            if matched:
                out.append((doc_id, round(score, 6)))
        out.sort(key=lambda p: (-p[1], p[0]))
        return out[:k]


def rrf(rankings: list[list[int]], k: int, k0: int = 60) -> list[tuple[int, float, int]]:
    """Reciprocal-rank fusion of ranked id lists: each id scores the sum of
    1 / (k0 + rank) over the lists it is in, rounded to 6 dp. Returns the
    top k as (id, score, rank), by score desc, id asc."""
    score: dict[int, float] = {}
    for ranked in rankings:
        for rank, i in enumerate(ranked, 1):
            score[i] = score.get(i, 0.0) + 1.0 / (k0 + rank)
    top = sorted(((i, round(s, 6)) for i, s in score.items()), key=lambda p: (-p[1], p[0]))[:k]
    return [(i, s, rank) for rank, (i, s) in enumerate(top, 1)]


def hash_vector(text: str, dim: int = 64) -> list[float]:
    """md5 chain of the text bytes, bytes mapped to [-1, 1], unit-normalized."""
    raw: list[float] = []
    seed = text.encode("utf-8")
    while len(raw) < dim:
        seed = hashlib.md5(seed).digest()
        raw.extend((b - 127.5) / 127.5 for b in seed)
    v = np.array(raw[:dim])
    return list(v / np.linalg.norm(v))
