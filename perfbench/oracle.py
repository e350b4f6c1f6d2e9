"""Expected outputs, computed without Spark and without the program's
code: a DuckDB fold of the changelog per catalog policy, exact shingle
Jaccard, and comparison helpers."""

from __future__ import annotations

import datetime as dt
import hashlib
import math

import duckdb
import numpy as np
import pyarrow as pa

from gen import GUARDED_TABLES, MUTATE_TABLES, jaccard

#: the runner's old-delete horizon (RunConfig.old_delete_days default)
GUARD_DAYS = 31
NEAR_DUP_THRESHOLD = 0.7

#: columns that define a replicated row's value, per apply mode; the
#: stored ``seq`` of a mutate row is bookkeeping (re-folded rows carry a
#: sentinel), so the state compare leaves it out
VERSIONED_COLS = ("key", "dateid", "ts", "value", "event_type")
MUTATE_COLS = ("key", "ts", "value", "event_type")


def fold_changelog(changelog: pa.Table) -> dict[str, pa.Table]:
    """Expected replicated state per table from the arrived changelog.

    - rows with a NULL key are poison and never applied;
    - insert_as_update tables: the latest I/U version per key, versioned
      by ``seq`` (the dedup view the Q1 read model returns);
    - mutate tables: the last accepted event per key, absent if it is a
      DELETE. On guarded tables a DELETE is not accepted when its row
      date is more than 31 days before the changelog clock at its
      position (the running max of ``ts`` up to its ``seq``).
    """
    con = duckdb.connect()
    con.register("cl", changelog)
    guarded = ", ".join(f"'{t}'" for t in sorted(GUARDED_TABLES)) or "''"
    con.execute(f"""
        CREATE TEMP TABLE ok AS
        SELECT *, max(ts) OVER (ORDER BY seq ROWS UNBOUNDED PRECEDING) AS clock
        FROM cl WHERE key IS NOT NULL
    """)
    out = {}
    for (tbl,) in con.execute("SELECT DISTINCT table_name FROM ok ORDER BY 1").fetchall():
        if tbl in MUTATE_TABLES:
            out[tbl] = con.execute(f"""
                SELECT key, ts, value, event_type FROM (
                  SELECT *, row_number() OVER (PARTITION BY key ORDER BY seq DESC) rn
                  FROM ok
                  WHERE table_name = ? AND NOT (
                    op = 'D' AND table_name IN ({guarded})
                    AND date_diff('day', CAST(ts AS DATE), CAST(clock AS DATE)) > {GUARD_DAYS})
                ) WHERE rn = 1 AND op <> 'D'
            """, [tbl]).fetch_arrow_table()
        else:
            out[tbl] = con.execute(f"""
                SELECT key, seq AS dateid, ts, value, event_type FROM (
                  SELECT *, row_number() OVER (PARTITION BY key ORDER BY seq DESC) rn
                  FROM ok WHERE table_name = ? AND op IN ('I', 'U')
                ) WHERE rn = 1
            """, [tbl]).fetch_arrow_table()
    con.close()
    return out


def last_consumed_seq(changelog: pa.Table) -> int | None:
    """The resume point the ledger must hold: the last non-poison seq."""
    con = duckdb.connect()
    con.register("cl", changelog)
    (v,) = con.execute("SELECT max(seq) FROM cl WHERE key IS NOT NULL").fetchone()
    con.close()
    return v


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(round(v, 6))
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ", timespec="microseconds")
    return str(v)


def digest(rows) -> tuple[int, str]:
    """Row count and an order-insensitive hash of normalized rows."""
    norm = sorted("\x1f".join(_norm(v) for v in r) for r in rows)
    h = hashlib.sha256("\x1e".join(norm).encode()).hexdigest()
    return len(norm), h


def table_rows(t: pa.Table, cols) -> list[tuple]:
    d = t.select(list(cols)).to_pydict()
    return list(zip(*(d[c] for c in cols)))


def check_pairs(pairs, texts: dict[int, str], must_find, forbidden=frozenset()):
    """Near-dup pair checks shared by ingest and probe results.

    ``pairs`` are (a, b) id tuples as returned; ``must_find`` the planted
    above-threshold pairs whose both docs are eligible. Returns a list of
    failure strings (empty when every check passes)."""
    errs = []
    got = {frozenset(p) for p in pairs}
    for a, b in pairs:
        if a in forbidden or b in forbidden:
            errs.append(f"tombstoned id returned in ({a}, {b})")
        elif jaccard(texts[a], texts[b]) < NEAR_DUP_THRESHOLD:
            errs.append(f"pair ({a}, {b}) below threshold: "
                        f"{jaccard(texts[a], texts[b]):.4f}")
    for a, b in must_find:
        if frozenset((a, b)) not in got:
            errs.append(f"planted pair ({a}, {b}) not found")
    return errs


# --------------------------------------------------------------------------
# near-dup and ANN plans: expectations computed from the inputs alone
# --------------------------------------------------------------------------

_M64 = (1 << 64) - 1
_P1, _P2, _P3 = 11400714785074694791, 14029467366897019727, 1609587929392839161
_P4, _P5 = 9650029242287828579, 2870177450012600261


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M64, 31) * _P1) & _M64


def xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as an unsigned 64-bit int: the reference
    algorithm, the hash Spark's ``xxhash64`` applies (seed 42) to a
    string's UTF-8 bytes."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed, (seed - _P1) & _M64]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _round(v[j], int.from_bytes(data[i + 8 * j:i + 8 * j + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h = ((h ^ (h >> 33)) * _P2) & _M64
    h = ((h ^ (h >> 29)) * _P3) & _M64
    return h ^ (h >> 32)


def simhash(text: str | None) -> int | None:
    """64-bit SimHash as defined for the near-dup plans: tokens are the
    non-empty space-separated words of the lower-cased, space-trimmed
    text (at most 32767); bit k is set when more than half of the
    tokens' XXH64 hashes have bit k set. ``None`` for a doc with no
    tokens."""
    toks = [t for t in (text or "").strip(" ").lower().split(" ") if t][:32767]
    if not toks:
        return None
    counts = [0] * 64
    for t in toks:
        h = xxh64(t.encode("utf-8"))
        for k in range(64):
            counts[k] += (h >> k) & 1
    return sum(1 << k for k in range(64) if 2 * counts[k] > len(toks))


def simhash_pairs(texts: dict[int, str], max_hamming: int = 3) -> dict[frozenset, int]:
    """Every doc pair whose SimHash fingerprints differ in at most
    ``max_hamming`` bits, by brute force, with its distance."""
    fp = {i: simhash(t) for i, t in texts.items()}
    ids = sorted(i for i, f in fp.items() if f is not None)
    out = {}
    for x, a in enumerate(ids):
        fa = fp[a]
        for b in ids[x + 1:]:
            d = bin(fa ^ fp[b]).count("1")
            if d <= max_hamming:
                out[frozenset((a, b))] = d
    return out


def cosine_topk(vecs: np.ndarray, ids: np.ndarray, n_queries: int, k: int) -> dict[int, list]:
    """Exact top-``k`` corpus ids by cosine for each query id
    (``ids < n_queries`` are the queries, the rest the corpus)."""
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    q, c = ids < n_queries, ids >= n_queries
    sims = unit[q] @ unit[c].T
    cids = ids[c]
    return {int(qid): [int(x) for x in cids[np.argsort(-row, kind="stable")[:k]]]
            for qid, row in zip(ids[q], sims)}
