"""Seeded input generators for the graft benchmark.

Every input the program sees is made here from ``--seed``: the same seed
gives byte-identical inputs. The program receives only these files.

* events: Zipf-keyed users, the testdata's uniform 5-type mix, value in
  whole cents, and timestamps strictly increasing with event_id, so every
  (user, ts) is distinct and the point-in-time answer is unambiguous.
* stream: an event schedule on a compressed clock (1 wall-second is one
  event-hour), fed open-loop by one generator thread.
* corpus: documents over the testdata's 31-word vocabulary with planted
  near-duplicate clusters.
"""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "signup", "error", "view", "purchase"])
# 2024-01-01T00:00:00Z, the testdata's first day
T0_US = 1704067200 * 1_000_000
VOCAB = np.array(
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window".split())

# Workload sizes. Each is chosen so one run (JVM start, set-up, the timed
# window and the output checks) stays well inside the per-run budget.
SIZES = {
    "backfill_large": dict(events=1_000_000, users=100_000, zipf=1.1,
                           span_days=30),
    # the fixed-rate phase takes 60% of the run; saturation follows as
    # sat_blocks batches of sat_block events
    "stream_examples": dict(users=20_000, zipf=0.0, rate=5000, fixed_share=0.6,
                            sat_block=120_000, sat_blocks=5),
    # written only for the traced backfill run, which also measures
    # graft.ext and graft.functions on it
    "corpus": dict(docs=1500, dup_share=0.2, min_cluster=2,
                   max_cluster=4, edit_frac=0.05),
}


def zipf_users(rng, n, users, s):
    """n user ids in [0, users) with P(rank r) proportional to r^-s (s=0:
    uniform). Ranks map onto ids through one fixed shuffle, the same for
    every seed: hot keys are not contiguous, and they land in the same
    shuffle partitions whatever the seed, so the seed varies the events
    but not how skewed the busiest partition is."""
    if s == 0:
        return rng.integers(0, users, n)
    p = 1.0 / np.arange(1, users + 1) ** s
    p /= p.sum()
    ranks = rng.choice(users, size=n, p=p)
    return np.random.default_rng(0).permutation(users)[ranks]


def events_table(rng, n, users, zipf, span_days):
    step = span_days * 86_400_000_000 // n
    ts = T0_US + np.arange(n, dtype=np.int64) * step + rng.integers(0, step, n)
    return dict(
        event_id=np.arange(n, dtype=np.int64),
        ts=ts,
        user_id=zipf_users(rng, n, users, zipf).astype(np.int64),
        event_type=EVENT_TYPES[rng.integers(0, 5, n)],
        value=rng.integers(0, 10_000, n) / 100.0,
    )


def write_events(path, ev, row_groups=8):
    n = len(ev["event_id"])
    table = pa.table({
        "event_id": pa.array(ev["event_id"]),
        # plain timestamp[us], as the testdata stores it
        "ts": pa.array(ev["ts"], type=pa.timestamp("us")),
        "user_id": pa.array(ev["user_id"]),
        "event_type": pa.array(ev["event_type"]),
        "value": pa.array(ev["value"]),
    })
    pq.write_table(table, path, row_group_size=max(1, -(-n // row_groups)))


def stream_schedule(rng, users, rate, fixed_s, n_sat):
    """Events in event-time order with their due wall offset (seconds from
    the stream start). The fixed phase runs open loop at ``rate`` events/s;
    the ``n_sat`` saturation events that follow are queued in blocks, each
    once the events before it are processed (due = fixed_s). Event time is the compressed
    clock, 3600 event-seconds per wall-second, in whole milliseconds and
    strictly increasing, one event every 3600/rate event-seconds in both
    phases."""
    n1, n2 = int(rate * fixed_s), n_sat
    due = np.concatenate([np.arange(n1) / rate, np.full(n2, float(fixed_s))])
    step_us = int(3_600_000_000 // rate)
    assert step_us % 1000 == 0
    n = n1 + n2
    ts = T0_US + np.arange(n, dtype=np.int64) * step_us
    ev = dict(
        event_id=np.arange(n, dtype=np.int64),
        ts=ts,
        user_id=zipf_users(rng, n, users, 0).astype(np.int64),
        event_type=EVENT_TYPES[rng.integers(0, 5, n)],
        value=rng.integers(0, 10_000, n) / 100.0,
    )
    return ev, due, n1


def corpus(rng, docs, dup_share, min_cluster, max_cluster, edit_frac):
    """Random documents plus planted near-duplicate clusters: each planted
    cluster is an original and copies with ``edit_frac`` of tokens
    replaced. Returns (doc_ids, texts, planted clusters as id lists)."""
    texts, planted = [], []
    n_dup_docs = int(docs * dup_share)
    while len(texts) < docs:
        toks = VOCAB[rng.integers(0, len(VOCAB), rng.integers(30, 101))]
        if sum(len(c) for c in planted) < n_dup_docs:
            size = int(rng.integers(min_cluster, max_cluster + 1))
            ids = [len(texts)]
            texts.append(" ".join(toks))
            for _ in range(size - 1):
                copy = toks.copy()
                k = max(1, int(len(copy) * edit_frac))
                pos = rng.choice(len(copy), k, replace=False)
                copy[pos] = VOCAB[rng.integers(0, len(VOCAB), k)]
                ids.append(len(texts))
                texts.append(" ".join(copy))
            planted.append(ids)
        else:
            texts.append(" ".join(toks))
    texts = texts[:docs]
    planted = [[i for i in c if i < docs] for c in planted]
    # shuffle ids so clusters are not contiguous
    perm = rng.permutation(docs)
    doc_ids = perm.astype(np.int64)
    planted = [[int(perm[i]) for i in c] for c in planted if len(c) > 1]
    return doc_ids, texts, planted


def write_corpus(path, doc_ids, texts, row_groups=8):
    table = pa.table({"doc_id": pa.array(doc_ids), "text": pa.array(texts)})
    pq.write_table(table, path,
                   row_group_size=max(1, -(-len(texts) // row_groups)))


def generate(workload, seed, out_dir, seconds, trace=False):
    """Write the workload's inputs under out_dir; return a description
    (sizes and key properties) for the run report and the checks."""
    rng = np.random.default_rng([seed, list(SIZES).index(workload)])
    cfg = SIZES[workload]
    desc = dict(workload=workload, seed=seed, **cfg)
    if workload == "backfill_large":
        ev = events_table(rng, cfg["events"], cfg["users"], cfg["zipf"],
                          cfg["span_days"])
        write_events(f"{out_dir}/events.parquet", ev)
        desc["distinct_users"] = int(len(np.unique(ev["user_id"])))
        if trace:
            rng = np.random.default_rng([seed, list(SIZES).index("corpus")])
            doc_ids, texts, planted = corpus(rng, **SIZES["corpus"])
            write_corpus(f"{out_dir}/documents.parquet", doc_ids, texts)
            desc.update(corpus=SIZES["corpus"], planted=planted)
    elif workload == "stream_examples":
        fixed_s = round(cfg["fixed_share"] * seconds, 3)
        n_sat = cfg["sat_block"] * cfg["sat_blocks"]
        ev, due, n1 = stream_schedule(rng, cfg["users"], cfg["rate"], fixed_s, n_sat)
        write_events(f"{out_dir}/events.parquet", ev)
        np.asarray(due, dtype="<f8").tofile(f"{out_dir}/due.bin")
        # the same events as fixed-width rows for the generator thread:
        # event_id, ts (us), user_id, index into EVENT_TYPES, value
        rows = np.empty(len(ev["event_id"]), dtype=[(k, "<i8") for k in (
            "event_id", "ts", "user_id", "event_type")] + [("value", "<f8")])
        for k in ("event_id", "ts", "user_id", "value"):
            rows[k] = ev[k]
        order = np.argsort(EVENT_TYPES)
        rows["event_type"] = order[np.searchsorted(EVENT_TYPES, ev["event_type"], sorter=order)]
        rows.tofile(f"{out_dir}/events.bin")
        desc.update(fixed_s=fixed_s, fixed_events=n1)
    else:
        raise ValueError(f"unknown workload {workload}")
    return desc
