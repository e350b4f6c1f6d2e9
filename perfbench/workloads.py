"""The benchmark's workloads. Each runs one closed-loop client against
one Spark session on ``local[<cores>]`` and fills a ``Run``.

Every workload reports the same end-to-end slots, so that one metric set
serves all of them:

- ``bulk``     — the large first load (CDC catch-up / store build);
- ``write``    — the repeated incremental write (trickle ``run_once`` /
                 ``add_batch``);
- ``read``     — the read that follows writes (dedup view / ``probe``);
- ``maintain`` — upkeep (compaction + aggregate refresh /
                 ``remove_batch`` + ``compact_tombstones``);
- ``plans``    — passes of ``plans/`` queries over a corpus of the
                 workload's own (the CDC-side SQL plans / the near-dup,
                 ANN and text plans).

The timed calls are the first of their code paths in a fresh session,
as in a cron-started run; only the session's first job is warmed up
(``run.py``). Every output is checked outside the timed spans against
expectations the benchmark computes itself (``oracle.py``).
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from contextlib import contextmanager

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import oracle
from spans import Spans


class Run:
    """State of one benchmark run: session, spans, timings and checks."""

    def __init__(self, spark, spans: Spans, work: str, seed: int, seconds: float):
        self.spark, self.spans, self.work = spark, spans, work
        self.seed, self.seconds = seed, seconds
        self.attempted = 0
        self.failures: list[str] = []
        #: per end-to-end slot: the span names timed into it, and its
        #: samples (one per call, or one per phase of several calls)
        self.slot_spans: dict[str, set[str]] = {}
        self.samples: dict[str, list[float]] = {}
        self.setup_parts: dict[str, float] = {}
        #: rows consumed by the bulk calls
        self.bulk_rows = 0
        self.props: dict = {}
        self.census: dict = {}
        self.tail_label: dict[str, str] = {}
        self.peak_rss_mb = 0.0

    def check(self, what: str, errs) -> None:
        """Count one attempted operation; record it failed if ``errs``."""
        self.attempted += 1
        if errs:
            self.failures.append(f"{what}: {errs if isinstance(errs, str) else errs[:3]}")

    @contextmanager
    def slot(self, slot: str, span_name: str, sample: bool = True):
        """Time one call as span ``span_name`` of ``slot``; with
        ``sample`` its wall time is one sample of the slot, otherwise
        the caller adds it up into one."""
        self.slot_spans.setdefault(slot, set()).add(span_name)
        with self.spans.span(span_name) as rec:
            yield rec
        if sample:
            self.samples.setdefault(slot, []).append(rec["wall_s"])


def tail(samples: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it, and its
    label. With twenty samples or fewer that percentile is at or below
    the median, so the maximum is reported instead."""
    xs = sorted(samples)
    n = len(xs)
    if n > 20:
        return xs[n - 11], f"p{100 * (n - 10) / n:.0f} of {n}"
    return xs[-1], f"max of {n}"


def median_setup(fn, reps: int = 3) -> float:
    """Run the repeatable part of set-up ``reps`` times; the median."""
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def _files_census(root: str) -> tuple[int, int]:
    n = size = 0
    for d, _, fs in os.walk(root):
        for f in fs:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


# --------------------------------------------------------------------------
# cdc_replicate
# --------------------------------------------------------------------------

ROWS_PER_FILE = 2000
CATCHUP_FILES = 4
MIN_TRICKLE = 2
#: a trickle round (one run_once and its reads) takes more than 2 s on
#: 4 cores, so the loop never runs out of generated input before
#: ``--seconds``
SECONDS_PER_TRICKLE = 2.0
DAYS_PER_FILE = 3.0
VERSIONED = ("visits", "actions")
READS_PER_TABLE = 2


def _oracle_table(files: list[dict]) -> pa.Table:
    """The arrived changelog for the oracle, with UTC timestamps as naive."""
    t = gen.changelog_table(files)
    i = t.schema.get_field_index("ts")
    return t.set_column(i, "ts", t.column(i).cast(pa.timestamp("us")))


def _ledger_resume(target: str) -> int | None:
    """The ledger's resume point read straight from its files: the
    ``log_pos_end`` of the max-``dateid`` row."""
    t = pq.read_table(os.path.join(target, "ledger")).to_pydict()
    if not t["dateid"]:
        return None
    i = max(range(len(t["dateid"])), key=lambda j: t["dateid"][j])
    return t["log_pos_end"][i]


def _compaction_months(files: list[dict]) -> list[int]:
    """The months of the last 31 days of the changelog clock (the
    reference compacts a 14->0-day window)."""
    last_us = max(int(np.max(f["ts"])) for f in files)
    return sorted({int(time.strftime("%Y%m", time.gmtime(x / 1e6)))
                   for x in (last_us - 31 * 86_400_000_000, last_us)})


def cdc_replicate(run: Run) -> None:
    from mysql2clickhouse_spark.operators.apply import latest_by_key
    from mysql2clickhouse_spark.streaming.runner import ReplicationRunner, RunConfig

    spark = run.spark
    n_files = CATCHUP_FILES + MIN_TRICKLE + math.ceil(run.seconds / SECONDS_PER_TRICKLE)
    cl_dir = os.path.join(run.work, "changelog")
    target = os.path.join(run.work, "target")
    corpus_dir = os.path.join(run.work, "corpus")
    files: list[dict] = []
    tables: dict = {}

    def stage_inputs():
        nonlocal files, tables
        for d in (cl_dir, corpus_dir):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
        files = gen.changelog_files(run.seed, n_files, ROWS_PER_FILE,
                                    DAYS_PER_FILE * n_files)
        for i in range(CATCHUP_FILES):
            gen.write_changelog_file(files[i], os.path.join(cl_dir, f"f{i:05d}.parquet"))
        tables = gen.sql_corpus(run.seed, CORPUS_ORDERS, CORPUS_EVENTS)
        gen.write_corpus(tables, corpus_dir)

    run.setup_parts["generate_and_stage_s"] = median_setup(stage_inputs)
    plans = PlanPasses(run, CDC_PLANS, corpus_dir, tables)

    runner = ReplicationRunner(spark, RunConfig(target_dir=target,
                                                max_files_per_run=CATCHUP_FILES))
    with run.slot("bulk", "runner.run_once.catchup"):
        runner.run_once(spark.read.parquet(cl_dir))
    want = oracle.last_consumed_seq(_oracle_table(files[:CATCHUP_FILES]))
    got = _ledger_resume(target)
    run.check("catchup run", None if got == want else
              f"resume point {got}, expected {want}")
    run.bulk_rows = sum(
        1 for f in files[:CATCHUP_FILES] for k in f["key"] if k is not None
    )

    runner = ReplicationRunner(spark, RunConfig(target_dir=target, max_files_per_run=1))
    staged = CATCHUP_FILES
    deadline = time.perf_counter() + run.seconds
    mutate_rows = refolded = 0
    while staged < n_files and (staged - CATCHUP_FILES < MIN_TRICKLE
                                or time.perf_counter() < deadline):
        gen.write_changelog_file(files[staged], os.path.join(cl_dir, f"f{staged:05d}.parquet"))
        staged += 1
        with run.slot("write", "runner.run_once.trickle"):
            rep = runner.run_once(spark.read.parquet(cl_dir))
        arrived = _oracle_table(files[:staged])
        want = oracle.last_consumed_seq(arrived)
        got = _ledger_resume(target)
        run.check(f"trickle run {staged}", None if got == want else
                  f"resume point {got}, expected {want}")
        f = files[staged - 1]
        mutate_rows += sum(1 for t, k in zip(f["table_name"], f["key"])
                           if t in gen.MUTATE_TABLES and k is not None)
        refolded += sum(s["rows"] for t, s in rep.tables.items() if t in gen.MUTATE_TABLES)
        expected = oracle.fold_changelog(arrived)
        for tbl in VERSIONED * READS_PER_TABLE:
            with run.slot("read", "apply.latest_by_key"):
                got_t = latest_by_key(
                    spark.read.parquet(runner.table_path(tbl)), ["key"], "dateid"
                ).toArrow()
            run.check(f"read {tbl} after file {staged}",
                      _state_errs(got_t, expected[tbl], oracle.VERSIONED_COLS))
        plans.one_pass()
    run.props = gen.changelog_properties(files[:staged])
    run.props["catchup_files"] = CATCHUP_FILES
    run.props["trickle_files"] = staged - CATCHUP_FILES
    run.census["mutate.refold_ratio"] = refolded / max(1, mutate_rows)

    arrived_files = files[:staged]
    months = _compaction_months(arrived_files)
    with run.slot("maintain", "runner.maintain"):
        for tbl in VERSIONED:
            runner.compact_table(tbl, months)
            runner.refresh_daily_aggregate(tbl, months)
    run.census["maintain.months"] = len(months)

    expected = oracle.fold_changelog(_oracle_table(arrived_files))
    for tbl in VERSIONED:
        path = runner.table_path(tbl)
        got_t = latest_by_key(spark.read.parquet(path), ["key"], "dateid").toArrow()
        errs = _state_errs(got_t, expected[tbl], oracle.VERSIONED_COLS)
        dup = _stored_duplicates(path, months)
        run.check(f"compact_table {tbl}", errs or (
            f"{dup} keys keep several versions after compaction" if dup else None))
    for tbl in VERSIONED:
        run.check(f"refresh_daily_aggregate {tbl}",
                  _daily_agg_errs(runner.table_path(tbl), months))
    for tbl in sorted(gen.MUTATE_TABLES):
        got_t = pq.read_table(runner.table_path(tbl))
        run.check(f"final state {tbl}", _state_errs(got_t, expected[tbl], oracle.MUTATE_COLS))
    run.census["store.files"], run.census["store.bytes"] = _files_census(
        os.path.join(target, "tables"))
    run.census["store.read_bytes"] = sum(
        _files_census(runner.table_path(t))[1] for t in VERSIONED)
    plans.until_deadline()


def _state_errs(got: pa.Table, want: pa.Table, cols) -> str | None:
    g = oracle.digest(oracle.table_rows(got, cols))
    w = oracle.digest(oracle.table_rows(want, cols))
    if g == w:
        return None
    return f"rows {g[0]} vs expected {w[0]}, hash {'equal' if g[1] == w[1] else 'differs'}"


def _stored_duplicates(table_path: str, months: list[int]) -> int:
    """Keys with more than one stored version inside the compacted months."""
    src = os.path.join(table_path, "**", "*.parquet")
    mlist = ", ".join(str(m) for m in months)
    with duckdb.connect() as con:
        (n,) = con.execute(f"""
            SELECT count(*) FROM (
              SELECT yyyymm, key FROM read_parquet('{src}', hive_partitioning = true)
              WHERE yyyymm IN ({mlist}) GROUP BY ALL HAVING count(*) > 1)""").fetchone()
    return n


def _daily_agg_errs(table_path: str, months: list[int]) -> str | None:
    """The refreshed rollup against a DuckDB aggregate of the stored rows."""
    con = duckdb.connect()
    src = os.path.join(table_path, "**", "*.parquet")
    agg = os.path.join(table_path + "__daily", "**", "*.parquet")
    mlist = ", ".join(str(m) for m in months)
    want = con.execute(f"""
        SELECT yyyymm, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day, count(*),
               round(sum(value), 4)
        FROM read_parquet('{src}', hive_partitioning = true)
        WHERE yyyymm IN ({mlist}) GROUP BY ALL""").fetchall()
    got = con.execute(f"""
        SELECT yyyymm, CAST(epoch_us(CAST(day AS TIMESTAMP)) // 86400000000 AS BIGINT),
               n_rows, round(sum_value, 4)
        FROM read_parquet('{agg}', hive_partitioning = true)
        WHERE yyyymm IN ({mlist})""").fetchall()
    con.close()
    g, w = oracle.digest(got), oracle.digest(want)
    return None if g == w else f"rollup rows {g[0]} vs expected {w[0]}"


# --------------------------------------------------------------------------
# neardup_store
# --------------------------------------------------------------------------

BASE_DOCS = 200
BATCH_DOCS = 100
PROBE_DOCS = 10
MIN_ROUNDS = 1
PROBES_PER_ROUND = 1
#: probes outside the rounds: one after ``remove_batch``, one after
#: ``compact_tombstones``, so the read slot's median is taken over
#: samples spread across the run
EXTRA_PROBES = 2
#: an ingest+probe round takes more than 2 s on 4 cores, so the loop
#: never runs out of generated input before ``--seconds``
SECONDS_PER_ROUND = 2.0
REMOVE_DOCS = 40
#: store geometry sized for a store of a few thousand documents
N_BUCKETS = 8


def neardup_store(run: Run) -> None:
    from mysql2clickhouse_spark.operators.neardup_index import MinHashIndex

    spark = run.spark
    max_rounds = MIN_ROUNDS + math.ceil(run.seconds / SECONDS_PER_ROUND)
    max_probes = max_rounds * PROBES_PER_ROUND + EXTRA_PROBES
    inp = os.path.join(run.work, "inputs")
    store = os.path.join(run.work, "store")
    corpus_dir = os.path.join(run.work, "corpus")
    docs: dict = {}
    tables: dict = {}
    planted_copies: list = []

    def stage_inputs():
        nonlocal docs, tables, planted_copies
        for d in (inp, corpus_dir):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
        docs = gen.documents(run.seed, BASE_DOCS, max_rounds, BATCH_DOCS,
                             max_probes, PROBE_DOCS)
        gen.write_docs(docs["base"], os.path.join(inp, "base.parquet"))
        tables, planted_copies = gen.text_corpus(run.seed, CORPUS_DOCS, CORPUS_VECTORS)
        gen.write_corpus(tables, corpus_dir)

    run.setup_parts["generate_and_stage_s"] = median_setup(stage_inputs)
    run.props = gen.documents_properties(docs)

    texts = docs["texts"]
    planted = docs["planted"]
    idx = MinHashIndex(spark, store, n_buckets=N_BUCKETS)

    def staged(name, rows):
        """Write one input file just before its call, outside the span."""
        path = os.path.join(inp, name)
        if not os.path.exists(path):
            gen.write_docs(rows, path)
        return spark.read.parquet(path)

    def ingest(name, rows, ingested, forbidden, slot="write", span="neardup.add_batch"):
        batch = staged(name, rows)
        with run.slot(slot, span):
            out = idx.add_batch(batch).toArrow()
        new = {r[0] for r in rows}
        ingested |= new
        must = [p for p in planted if p[1] in new and p[0] in ingested
                and p[0] not in forbidden]
        t = out.to_pydict()
        run.check(f"add_batch {name}", oracle.check_pairs(
            list(zip(t["id_a"], t["id_b"])), texts, must, forbidden))

    ingested: set[int] = set()
    ingest("base.parquet", docs["base"], ingested, frozenset(), "bulk", "neardup.build")
    run.bulk_rows = len(docs["base"])

    def probe(i, forbidden):
        rows = docs["probes"][i]
        ids = {r[0] for r in rows}
        batch = staged(f"probe{i:04d}.parquet", rows)
        with run.slot("read", "neardup.probe"):
            got = idx.probe(batch).toArrow().to_pydict()
        must = [p for p in planted if p[1] in ids and p[0] in ingested
                and p[0] not in forbidden]
        run.check(f"probe {i}", oracle.check_pairs(
            list(zip(got["probe_id"], got["match_id"])), texts, must, forbidden))

    # right after the build, tombstone the base docs that the docs of
    # the first round and of the probes outside the rounds were planted
    # from (topped up with random base docs), so an ingest or probe that
    # ignored tombstones would pair them
    first_probes = docs["probes"][:1 + PROBES_PER_ROUND] + docs["probes"][-1:]
    first = {r[0] for r in docs["batches"][0]} | {
        r[0] for pp in first_probes for r in pp}
    victims = sorted({a for a, c in planted if c in first and a < BASE_DOCS})[:REMOVE_DOCS]
    rng = np.random.default_rng([run.seed, 4])
    others = sorted(set(range(BASE_DOCS)) - set(victims))
    victims += [int(x) for x in rng.choice(others, REMOVE_DOCS - len(victims), replace=False)]
    victims_path = os.path.join(inp, "remove.parquet")
    pq.write_table(pa.table({"doc_id": pa.array(victims, pa.int64())}), victims_path)
    with run.slot("maintain", "neardup.compact", sample=False) as removed:
        n = idx.remove_batch(spark.read.parquet(victims_path))
    run.check("remove_batch", None if n == len(victims) else
              f"tombstoned {n}, expected {len(victims)}")
    forbidden = frozenset(victims)
    probe(0, forbidden)

    deadline = time.perf_counter() + run.seconds
    b, p = 0, 1
    while b < max_rounds and (b < MIN_ROUNDS or time.perf_counter() < deadline):
        ingest(f"batch{b:04d}.parquet", docs["batches"][b], ingested, forbidden)
        b += 1
        for _ in range(PROBES_PER_ROUND):
            probe(p, forbidden)
            p += 1
    run.props["ingest_batches_run"] = b

    with run.slot("maintain", "neardup.compact", sample=False) as rec:
        idx.compact_tombstones()
    run.samples["maintain"] = [removed["wall_s"] + rec["wall_s"]]
    run.check("compact_tombstones", _compacted_errs(idx, forbidden))
    probe(max_probes - 1, forbidden)
    run.props["probe_batches_run"] = p + 1
    run.census["store.files"], run.census["store.bytes"] = _files_census(store)
    run.census["store.read_bytes"] = _files_census(os.path.join(store, "bands"))[1] + \
        _files_census(os.path.join(store, "sigs"))[1]
    PlanPasses(run, TEXT_PLANS, corpus_dir, tables, planted_copies).until_deadline()


def _compacted_errs(idx, removed: frozenset) -> str | None:
    """After ``compact_tombstones``: no removed id is left in the store's
    ingest ledger or signatures, and no tombstone is pending."""
    def ids(path):
        if _files_census(path)[0] == 0:
            return set()
        t = pq.read_table(path, columns=[idx.id_col])
        return set(t.column(idx.id_col).to_pylist())

    left = (ids(idx.ids_path) | ids(idx.sigs_path)) & removed
    pending = ids(idx.tombstones_path)
    if left or pending:
        return f"{len(left)} removed ids still stored, {len(pending)} tombstones pending"
    return None


# --------------------------------------------------------------------------
# plans/ queries: passes over a corpus of each workload's own
# --------------------------------------------------------------------------

#: the plans each workload runs, over a corpus of its own: the
#: CDC-side SQL plans (Q1 dedup view, Q3 windowed dedup compaction,
#: INS-UPD apply), all DuckDB-oracle rows; and the near-dup, ANN and text
#: plans, the first four checked outside Spark
CDC_PLANS = ("q1_latest_window", "q3_dedup_window", "cdc_apply_ins_upd")
TEXT_PLANS = ("dedup_minhash_lsh", "dedup_simhash_pairs", "ann_lsh_topk",
              "ann_ivf_topk", "text_stats")
CORPUS_ORDERS, CORPUS_EVENTS = 400, 1500
CORPUS_DOCS, CORPUS_VECTORS = 300, 600
#: the plans' contract: mutants of every doc at id + 10^6 (one word
#: appended), pairs at Jaccard >= 0.7, SimHash pairs at hamming <= 3,
#: vectors with id < 5 are the ANN queries, top 10 each
MUT_OFFSET = 1_000_000
MAX_HAMMING = 3
N_QUERIES, TOPK = 5, 10
#: pairs of a planted family at or above this Jaccard count toward the
#: MinHash plan's recall, which must reach the plan's documented bound
#: (LSH banding finds a pair with a probability, not for certain)
MUST_FIND_JACCARD = 0.9
MINHASH_RECALL_BOUND = 0.95
#: least share of the exact top-k each ANN plan must return over all
#: queries. The plans' own contract is looser (at least 1 and 3 of each
#: query's 10); on this corpus LSH returns 0.9-1.0 and IVF 1.0, so the
#: bounds leave room for a geometry-dependent miss without hiding a
#: broken index
ANN_RECALL_BOUNDS = {"ann_lsh_topk": 0.7, "ann_ivf_topk": 0.8}


class _Collected:
    """A query result already collected, in the shape
    ``oracle_utils.compare`` reads."""

    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return self._rows


def _families(planted, ids) -> list[set[int]]:
    """Doc groups joined by a planted near copy or a mutant."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in list(planted) + [(i, i + MUT_OFFSET) for i in ids if i < MUT_OFFSET]:
        parent[find(a)] = find(b)
    groups: dict[int, set[int]] = {}
    for i in ids:
        groups.setdefault(find(i), set()).add(i)
    return [g for g in groups.values() if len(g) > 1]


def _minhash_errs(rows, texts, must, recalls: dict) -> list[str]:
    errs, seen = [], set()
    for r in rows:
        pair = frozenset((r.id_a, r.id_b))
        exact = gen.jaccard(texts[r.id_a], texts[r.id_b])
        if len(pair) != 2 or pair in seen:
            errs.append(f"pair ({r.id_a}, {r.id_b}) repeated or self")
        elif exact < oracle.NEAR_DUP_THRESHOLD or abs(exact - r.jaccard) > 0.005:
            errs.append(f"pair ({r.id_a}, {r.id_b}) reports {r.jaccard}, exact {exact:.4f}")
        seen.add(pair)
    recall = len(must & seen) / len(must)
    recalls["minhash"] = recall
    if recall < MINHASH_RECALL_BOUND:
        errs.append(f"recall {recall:.3f} of {len(must)} planted-family pairs "
                    f"below {MINHASH_RECALL_BOUND}")
    return errs


def _simhash_errs(rows, expected) -> str | None:
    got = {frozenset((r.id_a, r.id_b)): r.hamming for r in rows}
    if got == expected and len(got) == len(rows):
        return None
    return (f"{len(rows)} pairs, expected {len(expected)}; "
            f"{len(set(got) ^ set(expected))} differ")


def _ann_errs(rows, unit, truth, recalls: dict, name: str) -> list[str]:
    errs, hits, per_q = [], 0, {}
    for r in rows:
        per_q[r.qid] = per_q.get(r.qid, 0) + 1
        exact = float(unit[r.qid] @ unit[r.cid])
        if abs(exact - r.sim) > 1e-3:
            errs.append(f"({r.qid}, {r.cid}) reports sim {r.sim}, exact {exact:.4f}")
        hits += r.cid in truth[r.qid]
    errs += [f"query {q} returned {n} rows" for q, n in per_q.items() if n > TOPK]
    recall = hits / (TOPK * len(truth))
    recalls[name] = recall
    if recall < ANN_RECALL_BOUNDS[name]:
        errs.append(f"recall {recall:.3f} below {ANN_RECALL_BOUNDS[name]}")
    return errs


def _text_plan_checks(tables: dict, planted: list, recalls: dict) -> dict:
    """Output checks of the plans without a DuckDB oracle, from the
    inputs alone: MinHash pairs re-verified by exact shingle Jaccard,
    with their recall of the planted-family pairs; SimHash pairs equal
    to a brute force over fingerprints computed in Python; ANN rows
    carrying their exact cosine, at most ``TOPK`` per query, with recall
    against a numpy brute force at least ``ANN_RECALL_BOUNDS``."""
    docs = tables["documents"].to_pydict()
    texts = dict(zip(docs["doc_id"], docs["text"]))
    texts.update({i + MUT_OFFSET: t + " extra" for i, t in zip(docs["doc_id"], docs["text"])})
    must = {frozenset((a, b)) for g in _families(planted, sorted(texts))
            for a in g for b in g
            if a < b and gen.jaccard(texts[a], texts[b]) >= MUST_FIND_JACCARD}
    sim_pairs = oracle.simhash_pairs(texts, MAX_HAMMING)
    emb = tables["embeddings"].to_pydict()
    vec_ids = np.array(emb["vec_id"])
    vecs = np.array(emb["embedding"], dtype=np.float64)
    truth = oracle.cosine_topk(vecs, vec_ids, N_QUERIES, TOPK)
    unit = dict(zip(vec_ids.tolist(), vecs / np.linalg.norm(vecs, axis=1, keepdims=True)))
    return {
        "dedup_minhash_lsh": lambda rows: _minhash_errs(rows, texts, must, recalls),
        "dedup_simhash_pairs": lambda rows: _simhash_errs(rows, sim_pairs),
        "ann_lsh_topk": lambda rows: _ann_errs(rows, unit, truth, recalls, "ann_lsh_topk"),
        "ann_ivf_topk": lambda rows: _ann_errs(rows, unit, truth, recalls, "ann_ivf_topk"),
        "must_find_pairs": len(must),
        "simhash_pairs": len(sim_pairs),
    }


class PlanPasses:
    """Passes over the plans, each running every plan once over the
    corpus in ``corpus_dir`` in an order drawn from the seed. Each call
    is timed as span ``plans.<name>`` of the ``plans`` slot (the query's
    rows collected to the client); a pass is one sample. Every output
    is checked: ``oracle_utils.compare`` against the plan's DuckDB
    oracle where it has one, the checks above otherwise.

    A workload may run single passes between its other calls, so that
    the slot's median is taken over samples spread across the run and
    a few seconds of a slow host move only some of them."""

    def __init__(self, run: Run, names, corpus_dir: str, tables: dict, planted=()):
        from mysql2clickhouse_spark.plans import all_oracles_extended, all_queries_extended
        from oracle_utils import compare

        self.run, self.names, self.corpus_dir = run, names, corpus_dir
        self.compare = compare
        self.queries, self.oracles = all_queries_extended(), all_oracles_extended()
        self.recalls: dict[str, float] = {}
        self.checks = (_text_plan_checks(tables, planted, self.recalls)
                       if "documents" in tables else {})
        self.con = duckdb.connect()
        for name, t in tables.items():
            self.con.register(name, t)
        self.rng = np.random.default_rng([run.seed, 5])
        self.props = {"queries": list(names),
                      **{k: v for k, v in self.checks.items() if isinstance(v, int)},
                      **{k: t.num_rows for k, t in tables.items()}}

    def one_pass(self) -> None:
        run, total = self.run, 0.0
        for n in self.rng.permutation(self.names):
            with run.slot("plans", f"plans.{n}", sample=False) as rec:
                df = self.queries[n](run.spark, self.corpus_dir)
                rows = df.collect()
            total += rec["wall_s"]
            if n in self.oracles:
                ok, msg = self.compare(_Collected(df.columns, rows), self.con, self.oracles[n])
                run.check(f"plan {n}", None if ok else msg)
            else:
                run.check(f"plan {n}", self.checks[n](rows))
        run.samples.setdefault("plans", []).append(total)

    def until_deadline(self) -> None:
        """Passes until ``--seconds`` have passed (at least one); then
        the summary into the run's report."""
        run = self.run
        deadline = time.perf_counter() + run.seconds
        n = len(run.samples.get("plans", ()))
        while len(run.samples.get("plans", ())) == n or time.perf_counter() < deadline:
            self.one_pass()
        self.con.close()
        run.props["plans"] = {**self.props, "passes": len(run.samples["plans"])}
        for k, v in self.recalls.items():
            run.census[f"recall.{k}"] = v


WORKLOADS = {"cdc_replicate": cdc_replicate, "neardup_store": neardup_store}
