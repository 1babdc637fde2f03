#!/usr/bin/env python3
"""Shows that every output check of the benchmark can fail.

For each workload it builds a correct result from the check's own
reference on small seeded inputs, confirms the check accepts it, then
corrupts it in several ways and confirms the check rejects each one. No
JVM is needed.

    python3 perfbench/selftest.py
"""

import os
import sys
import tempfile

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402

FAILURES = []


def expect(name, result, ok):
    attempted, failed, _ = result
    passed = failed == 0
    status = "ok" if passed == ok else "WRONG"
    if passed != ok:
        FAILURES.append(name)
    print(f"{status:5s} {name}: {failed} of {attempted} failed "
          f"(expected {'accept' if ok else 'reject'})")


def write_training_set(path, rows):
    os.makedirs(path, exist_ok=True)
    for f in os.listdir(path):
        os.remove(os.path.join(path, f))
    cols = list(zip(*rows)) if rows else [[]] * 5
    pq.write_table(pa.table({
        "_entity": pa.array(cols[0], pa.int64()),
        "_prediction_time": pa.array(cols[1], pa.timestamp("us")),
        "_label_time": pa.array(cols[2], pa.timestamp("us")),
        "err_cents": pa.array(cols[3], pa.int64()),
        "purchases": pa.array(cols[4], pa.int64()),
    }), f"{path}/part-0.parquet")


def backfill(tmp):
    rng = np.random.default_rng(7)
    ev = gen.events_table(rng, 20_000, 500, 1.1, 3)
    gen.write_events(f"{tmp}/events.parquet", ev)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp}/events.parquet')")
    rows = [list(r) for r in con.execute(checks.FLAGSHIP_SQL).fetchall()]
    ref = checks.backfill_reference(con, f"{tmp}/events.parquet", checks.FLAGSHIP_SQL)
    fast = checks.backfill_reference(con, f"{tmp}/events.parquet")
    expect("backfill references agree", (1, 0 if ref == fast else 1, None), True)
    report = {"passes": 3}
    out = f"{tmp}/out"

    def run(second):
        for i in range(3):
            write_training_set(f"{out}/backfill/{i}", second if i == 1 else rows)
        return checks.check_backfill(tmp, out, report)

    expect("backfill correct", run(rows), True)
    bad = [r[:] for r in rows]
    bad[0][3] = (bad[0][3] or 0) + 1
    expect("backfill wrong err_cents", run(bad), False)
    bad = [r[:] for r in rows]
    bad[1][4] = None if bad[1][4] is not None else 1
    expect("backfill wrong purchases", run(bad), False)
    expect("backfill missing row", run(rows[1:]), False)
    expect("backfill duplicated row", run(rows + rows[:1]), False)
    run(rows)
    for f in os.listdir(f"{out}/backfill/2"):
        os.remove(os.path.join(f"{out}/backfill/2", f))
    expect("backfill pass not written", checks.check_backfill(tmp, out, report), False)


def stream(tmp):
    rng = np.random.default_rng(9)
    ev, _, _ = gen.stream_schedule(rng, 300, 5000, 2.0, 5000)
    gen.write_events(f"{tmp}/events.parquet", ev)
    sent = 14_000
    wm = int(ev["ts"][sent - 1])
    con = duckdb.connect()
    con.execute(f"""CREATE VIEW events AS SELECT * FROM read_parquet('{tmp}/events.parquet')
                    WHERE event_id < {sent}""")
    ref = np.array([[checks.NULL if x is None else x for x in r] for r in con.execute(
        f"SELECT * FROM ({checks.FLAGSHIP_SQL}) WHERE label_us < {wm}").fetchall()], dtype="<i8")
    out = f"{tmp}/out"
    os.makedirs(out, exist_ok=True)
    report = {"events_sent": sent, "final_watermark_us": wm}

    def run(rows):
        rows.astype("<i8").tofile(f"{out}/examples.bin")
        return checks.check_stream(tmp, out, report)

    expect("stream correct", run(ref), True)
    bad = ref.copy()
    bad[0, 3] += 1
    expect("stream wrong err_cents", run(bad), False)
    expect("stream missing example", run(ref[1:]), False)
    expect("stream duplicated example", run(np.concatenate([ref, ref[:1]])), False)
    late = ref[:1].copy()
    late[0, 2] = wm + 1_000
    expect("stream example past the watermark", run(np.concatenate([ref, late])), False)


def dedup(tmp):
    rng = np.random.default_rng(10)
    doc_ids, texts, planted = gen.corpus(rng, 300, 0.2, 2, 4, 0.05)
    gen.write_corpus(f"{tmp}/documents.parquet", doc_ids, texts)
    sets = dict(zip(doc_ids.tolist(), map(checks.shingles, texts)))
    label = {d: d for d in doc_ids.tolist()}
    # correct clustering: union the planted pairs the exact graph connects
    for c in planted:
        for i, a in enumerate(c):
            for b in c[i + 1:]:
                if checks.jaccard(sets[a], sets[b]) >= 0.7:
                    la, lb = label[a], label[b]
                    for d, l in label.items():
                        if l == max(la, lb):
                            label[d] = min(la, lb)
    out = f"{tmp}/out"
    os.makedirs(out, exist_ok=True)

    def run(lab):
        rows = np.array([[0, d, c] for d, c in lab.items()], dtype="<i8")
        rows.tofile(f"{out}/clusters.bin")
        return checks.check_dedup(tmp, out, {}, planted)

    expect("dedup correct", run(label), True)
    ids = doc_ids.tolist()
    a, b = next((a, b) for a in ids for b in ids
                if label[a] != label[b] and checks.jaccard(sets[a], sets[b]) < 0.7)
    bad = dict(label)
    bad[a] = bad[b] = min(a, b)
    expect("dedup joins unconnected documents", run(bad), False)
    bad = dict(label)
    del bad[a]
    expect("dedup drops a document", run(bad), False)
    expect("dedup leaves every document alone", run({d: d for d in ids}), False)
    # split planted clusters into singletons until recall is just below the floor
    pairs = [(a, b) for c in planted for i, a in enumerate(c) for b in c[i + 1:]
             if checks.jaccard(sets[a], sets[b]) >= 0.7]
    bad = dict(label)
    for c in planted:
        if sum(bad[a] == bad[b] for a, b in pairs) < checks.MIN_RECALL * len(pairs):
            break
        for d in c:
            bad[d] = d
    result = run(bad)
    expect(f"dedup recall {result[2]['min_recall']:.3f} below the floor", result, False)


def main():
    work = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".work")
    os.makedirs(work, exist_ok=True)
    for fn in (backfill, stream, dedup):
        with tempfile.TemporaryDirectory(dir=work) as tmp:
            fn(tmp)
    if FAILURES:
        print(f"{len(FAILURES)} check(s) did not behave as expected: {FAILURES}")
        sys.exit(1)
    print("every check accepts a correct result and rejects each corruption")


if __name__ == "__main__":
    main()
