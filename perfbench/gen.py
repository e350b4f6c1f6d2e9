"""Seeded input generators. The program under test sees only the files
these write; the benchmark keeps the in-memory copies to build its
expected outputs.

Every generator is a pure function of its seed: the same seed gives
byte-identical inputs, another seed gives other inputs.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# CDC changelog (Matomo-shaped, generic changelog contract)
# --------------------------------------------------------------------------

CHANGELOG_SCHEMA = pa.schema(
    [
        ("op", pa.string()),
        ("table_name", pa.string()),
        ("key", pa.int64()),
        ("seq", pa.int64()),
        ("file_seq", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("value", pa.float64()),
        ("event_type", pa.string()),
    ]
)

#: (table, catalog policy, share of rows, key space). visits/actions are
#: insert_as_update; conversions is mutate with the 31-day old-delete
#: guard; site is the small mutate dim. Mutate tables carry ~27% of rows.
TABLE_MIX = (
    ("visits", "insert_as_update", 0.55, 6000),
    ("actions", "insert_as_update", 0.18, 4000),
    ("conversions", "mutate_guarded", 0.22, 3000),
    ("site", "mutate", 0.05, 40),
)
GUARDED_TABLES = frozenset(t for t, p, _, _ in TABLE_MIX if p == "mutate_guarded")
MUTATE_TABLES = frozenset(t for t, p, _, _ in TABLE_MIX if p.startswith("mutate"))

CHANGELOG_START = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
HOT_KEY_SHARE = 0.10      # share of a table's events that hit its hot keys
HOT_KEY_FRACTION = 0.01   # hot keys as a share of the table's key space
POISON_SHARE = 0.01       # rows with a NULL key (quarantined by the runner)
DELETE_SHARE = 0.08       # deletes among events on an existing key
BACKDATED_SHARE = 0.5     # guarded-table deletes whose row date is old
BACKDATE_DAYS = (40, 120) # back-dated row age at its changelog position
EVENT_TYPES = ("pageview", "click", "goal", "download", "search")


def changelog_files(
    seed: int, n_files: int, rows_per_file: int, span_days: float
) -> list[dict]:
    """``n_files`` changelog files of ``rows_per_file`` rows, in ``seq``
    order, the changelog clock advancing evenly over ``span_days``.

    Each returned dict is one file's columns (numpy arrays / lists).
    Properties the expected state relies on:

    - per key the first event is an INSERT, later ones UPDATE or DELETE;
      an event after a DELETE is an INSERT again;
    - on the guarded table, a DELETE is either back-dated (its row date
      lies 40-120 days before its changelog position, so every batch's
      31-day guard rejects it) or carries its position time (accepted
      by any batch that spans at most 31 days);
    - ~1% of rows have a NULL key (poison).
    """
    rng = np.random.default_rng([seed, 1])
    n = n_files * rows_per_file
    names = [t for t, _, _, _ in TABLE_MIX]
    shares = np.array([s for _, _, s, _ in TABLE_MIX])
    tbl_idx = rng.choice(len(names), size=n, p=shares / shares.sum())
    keys = np.empty(n, dtype=np.int64)
    for i, (_, _, _, space) in enumerate(TABLE_MIX):
        m = tbl_idx == i
        cnt = int(m.sum())
        n_hot = max(1, int(space * HOT_KEY_FRACTION))
        hot = rng.random(cnt) < HOT_KEY_SHARE
        keys[m] = np.where(
            hot, rng.integers(0, n_hot, cnt), rng.integers(n_hot, space, cnt)
        )
    poison = rng.random(n) < POISON_SHARE
    # changelog clock: evenly spaced with a little jitter, monotone in seq
    step_us = span_days * 86_400e6 / n
    offs = (np.arange(n) * step_us + rng.random(n) * step_us * 0.5).astype(np.int64)
    start_us = int(CHANGELOG_START.timestamp() * 1e6)
    pos_us = start_us + offs
    values = np.round(rng.random(n) * 1000.0, 2)
    etypes = rng.integers(0, len(EVENT_TYPES), n)
    del_draw = rng.random(n)
    backdate_draw = rng.random(n)
    backdate_days = rng.integers(BACKDATE_DAYS[0], BACKDATE_DAYS[1] + 1, n)

    ops = np.empty(n, dtype=object)
    ts_us = pos_us.copy()
    live: set[tuple[int, int]] = set()
    for i in range(n):
        if poison[i]:
            ops[i] = "I"
            continue
        k = (int(tbl_idx[i]), int(keys[i]))
        if k not in live:
            ops[i] = "I"
            live.add(k)
        elif del_draw[i] < DELETE_SHARE:
            ops[i] = "D"
            if names[k[0]] in GUARDED_TABLES and backdate_draw[i] < BACKDATED_SHARE:
                ts_us[i] = pos_us[i] - int(backdate_days[i]) * 86_400_000_000
            else:
                live.discard(k)
        else:
            ops[i] = "U"
    files = []
    for f in range(n_files):
        s = slice(f * rows_per_file, (f + 1) * rows_per_file)
        files.append(
            {
                "op": ops[s].tolist(),
                "table_name": [names[j] for j in tbl_idx[s]],
                "key": [None if p else int(x) for x, p in zip(keys[s], poison[s])],
                "seq": np.arange(s.start, s.stop, dtype=np.int64) + 1,
                "file_seq": np.full(rows_per_file, f, dtype=np.int64),
                "ts": ts_us[s],
                "value": values[s],
                "event_type": [EVENT_TYPES[j] for j in etypes[s]],
            }
        )
    return files


def changelog_table(files: list[dict]) -> pa.Table:
    """The given changelog files as one arrow table."""
    def col(k):
        parts = [f[k] for f in files]
        if isinstance(parts[0], np.ndarray):
            return np.concatenate(parts)
        return [v for p in parts for v in p]

    return pa.table({
        "op": pa.array(col("op"), pa.string()),
        "table_name": pa.array(col("table_name"), pa.string()),
        "key": pa.array(col("key"), pa.int64()),
        "seq": pa.array(col("seq"), pa.int64()),
        "file_seq": pa.array(col("file_seq"), pa.int64()),
        "ts": pa.array(col("ts"), pa.timestamp("us", tz="UTC")),
        "value": pa.array(col("value"), pa.float64()),
        "event_type": pa.array(col("event_type"), pa.string()),
    }, schema=CHANGELOG_SCHEMA)


def write_changelog_file(cols: dict, path: str) -> None:
    pq.write_table(changelog_table([cols]), path)


def changelog_properties(files: list[dict]) -> dict:
    ops, tbls, keys, ts, seqs = [], [], [], [], []
    for f in files:
        ops += f["op"]
        tbls += f["table_name"]
        keys += f["key"]
        ts.append(np.asarray(f["ts"]))
        seqs.append(np.asarray(f["seq"]))
    ts_all, seq_all = np.concatenate(ts), np.concatenate(seqs)
    n = len(ops)
    pos_max = np.maximum.accumulate(ts_all[np.argsort(seq_all)])
    backdated = sum(
        1 for o, t, c, p in zip(ops, tbls, ts_all, pos_max)
        if o == "D" and t in GUARDED_TABLES and p - c > 31 * 86_400_000_000
    )
    # months of the changelog clock (back-dated row dates excluded)
    months = [str(m).replace("-", "") for m in
              np.unique(pos_max.astype("datetime64[us]").astype("datetime64[M]"))]
    hot = {}
    for t, _, _, space in TABLE_MIX:
        ks = [k for k, tt in zip(keys, tbls) if tt == t and k is not None]
        n_hot = max(1, int(space * HOT_KEY_FRACTION))
        hot[t] = round(sum(1 for k in ks if k < n_hot) / max(1, len(ks)), 3)
    return {
        "rows": n,
        "files": len(files),
        "table_mix": {t: round(tbls.count(t) / n, 3) for t, _, _, _ in TABLE_MIX},
        "mutate_share": round(sum(tbls.count(t) for t in MUTATE_TABLES) / n, 3),
        "op_mix": {o: round(ops.count(o) / n, 3) for o in ("I", "U", "D")},
        "distinct_keys": len({(t, k) for t, k in zip(tbls, keys) if k is not None}),
        "hot_key_share": hot,
        "months": months,
        "poison_rows": sum(1 for k in keys if k is None),
        "backdated_deletes": backdated,
    }


# --------------------------------------------------------------------------
# documents with planted near-duplicates
# --------------------------------------------------------------------------

SHINGLE_K = 5


def _vocab(rng, size: int = 4000) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, size)
    return ["".join(rng.choice(letters, n)) for n in lens]


def _doc(rng, vocab: list[str], n_words: int) -> str:
    return " ".join(vocab[i] for i in rng.integers(0, len(vocab), n_words))


def _near(text: str) -> str:
    """The last character substituted: one 5-shingle of some hundreds
    changes, a Jaccard of ~0.99. At that similarity the store's 6x8 LSH
    banding misses a pair with odds below 1e-6, so every planted pair
    can be required."""
    return text[:-1] + ("q" if text[-1] != "q" else "z")


def _far(rng, text: str, vocab: list[str]) -> str:
    """The second half rewritten: a Jaccard of ~0.3-0.5."""
    words = text.split(" ")
    h = len(words) // 2
    tail = [vocab[i] for i in rng.integers(0, len(vocab), len(words) - h)]
    return " ".join(words[:h] + tail)


def shingles(text: str, k: int = SHINGLE_K) -> set[str]:
    t = (text or "").lower()
    if not t:
        return set()
    return {t[i:i + k] for i in range(max(1, len(t) - k + 1))}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    u = len(sa | sb)
    return len(sa & sb) / u if u else 0.0


def documents(
    seed: int, n_base: int, n_batches: int, batch_size: int, n_probes: int,
    probe_size: int,
) -> dict:
    """A base corpus, ``n_batches`` ingest batches and ``n_probes`` probe
    batches. Each ingest batch plants near-dups (J≈0.99) and far copies
    (J≈0.3-0.5) of earlier and same-batch docs; each probe batch holds
    near-dups and far copies of stored docs plus fresh text.

    Returns ``{"base": [(id, text)], "batches": [[...]], "probes": [[...]],
    "planted": [(a, b)], "far": [(a, b)]}`` where ``planted`` pairs are
    the above-threshold ones (id order as planted: the later doc second).
    """
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng)
    texts: dict[int, str] = {}
    planted, far = [], []

    def fresh(i: int) -> tuple[int, str]:
        texts[i] = _doc(rng, vocab, int(rng.integers(40, 70)))
        return i, texts[i]

    def copy_of(i: int, src: int, near: bool) -> tuple[int, str]:
        texts[i] = _near(texts[src]) if near else _far(rng, texts[src], vocab)
        (planted if near else far).append((src, i))
        return i, texts[i]

    next_id = 0
    base = []
    for _ in range(n_base):
        base.append(fresh(next_id))
        next_id += 1
    batches = []
    for _ in range(n_batches):
        b = []
        start = next_id
        for j in range(batch_size):
            r = rng.random()
            if r < 0.06 and next_id > 0:
                b.append(copy_of(next_id, int(rng.integers(0, next_id)), True))
            elif r < 0.09 and next_id > start:
                b.append(copy_of(next_id, int(rng.integers(start, next_id)), True))
            elif r < 0.12 and next_id > 0:
                b.append(copy_of(next_id, int(rng.integers(0, next_id)), False))
            else:
                b.append(fresh(next_id))
            next_id += 1
        batches.append(b)
    stored = next_id
    probes = []
    probe_id = 10_000_000
    for _ in range(n_probes):
        p = []
        for j in range(probe_size):
            r = rng.random()
            src = int(rng.integers(0, n_base))
            if r < 0.4:
                p.append(copy_of(probe_id, src, True))
            elif r < 0.6:
                p.append(copy_of(probe_id, src, False))
            else:
                p.append(fresh(probe_id))
            probe_id += 1
        probes.append(p)
    return {"base": base, "batches": batches, "probes": probes,
            "planted": planted, "far": far, "texts": texts}


def documents_properties(docs: dict, sample: int = 200) -> dict:
    t = docs["texts"]
    near = [jaccard(t[a], t[b]) for a, b in docs["planted"][:sample]]
    far = [jaccard(t[a], t[b]) for a, b in docs["far"][:sample]]
    return {
        "base_docs": len(docs["base"]),
        "ingest_batches": len(docs["batches"]),
        "batch_size": len(docs["batches"][0]) if docs["batches"] else 0,
        "probe_batches": len(docs["probes"]),
        "probe_size": len(docs["probes"][0]) if docs["probes"] else 0,
        "planted_near_pairs": len(docs["planted"]),
        "planted_far_pairs": len(docs["far"]),
        "near_jaccard_min": round(min(near), 3) if near else None,
        "far_jaccard_max": round(max(far), 3) if far else None,
        "mean_chars": round(float(np.mean([len(x) for x in t.values()])), 1),
    }


def write_docs(rows: list[tuple[int, str]], path: str) -> None:
    pq.write_table(
        pa.table({"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                  "text": pa.array([r[1] for r in rows], pa.string())}),
        path,
    )


# --------------------------------------------------------------------------
# query corpora: tables in the layout the plans layer reads
# --------------------------------------------------------------------------

EMB_DIM = 64
LANGS = ("en", "de", "es")
STOPWORDS = {"en": "the", "de": "der", "es": "que"}
EVENT_KINDS = ("signup", "view", "click", "purchase", "logout")


def text_corpus(
    seed: int, n_docs: int, n_vectors: int
) -> tuple[dict[str, pa.Table], list[tuple[int, int]]]:
    """The ``documents`` and ``embeddings`` tables in the schema the
    near-dup, text and ANN plans read, and the planted near-copy doc
    pairs ``(source, copy)``.

    - documents: random-word text, a third of docs carrying their
      language's stopword; a tenth are near copies (one substituted
      character) of an earlier doc, so the near-dup plans find pairs
      beyond the mutants they plant themselves;
    - embeddings: ``EMB_DIM``-dim vectors around ``n_vectors // 25``
      cluster centres, so every query has a clear top-k.
    """
    rng = np.random.default_rng([seed, 3])
    vocab = _vocab(rng, 2000)
    ids, texts, langs, planted = [], [], [], []
    for i in range(n_docs):
        lang = LANGS[int(rng.integers(0, len(LANGS)))]
        if i > 10 and rng.random() < 0.1:
            src = int(rng.integers(0, i))
            text = _near(texts[src])
            planted.append((src, i))
        else:
            text = _doc(rng, vocab, int(rng.integers(30, 60)))
            if rng.random() < 0.33:
                text = f"{text} {STOPWORDS[lang]} {_doc(rng, vocab, 5)}"
        ids.append(i)
        texts.append(text)
        langs.append(lang)
    documents = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 7}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    n_centres = max(2, n_vectors // 25)
    centres = rng.standard_normal((n_centres, EMB_DIM))
    label = rng.integers(0, n_centres, n_vectors)
    vecs = (centres[label] + 0.6 * rng.standard_normal((n_vectors, EMB_DIM))).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_vectors, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })
    return {"documents": documents, "embeddings": embeddings}, planted


def sql_corpus(seed: int, n_orders: int, n_events: int) -> dict[str, pa.Table]:
    """The ``lineitem`` and ``events`` tables in the schema the Q1/Q3
    and CDC-apply plans read: 1-7 versions (line numbers) per order key,
    and an event stream over a few hundred users with every event kind."""
    rng = np.random.default_rng([seed, 6])
    n_lines = rng.integers(1, 8, n_orders)
    key = np.repeat(np.arange(1, n_orders + 1, dtype=np.int64), n_lines)
    line = np.concatenate([np.arange(1, k + 1) for k in n_lines]).astype(np.int32)
    n = len(key)
    ship_us = (int(dt.datetime(1995, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1e6)
               + rng.integers(0, 4 * 365, n) * 86_400_000_000)
    qty = rng.integers(1, 51, n).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(key),
        "l_partkey": pa.array(rng.integers(1, 200, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, 10, n), pa.int64()),
        "l_linenumber": pa.array(line),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, n), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n) / 100.0, 2)),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n).tolist(), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n).tolist(), pa.string()),
        "l_shipdate": pa.array(ship_us, pa.timestamp("us")),
    })
    ev_us = (int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1e6)
             + np.sort(rng.integers(0, 30 * 86_400_000_000, n_events)))
    events = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ev_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n_events // 5), n_events), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_KINDS, n_events).tolist(), pa.string()),
        "value": pa.array(np.round(rng.random(n_events) * 100.0, 2)),
        "props": pa.array([f'{{"k":{int(x)}}}' for x in rng.integers(0, 9, n_events)],
                          pa.string()),
    })
    return {"lineitem": lineitem, "events": events}


def write_corpus(tables: dict[str, pa.Table], out_dir: str) -> None:
    for name, t in tables.items():
        pq.write_table(t, f"{out_dir}/{name}.parquet")
