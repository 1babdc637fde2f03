"""Output checks for the graft benchmark, run after the timed window.

Each check returns (attempted, failed, extra) where ``extra`` holds figures
worth printing (e.g. dedup recall). A check never trusts the program: the
references are DuckDB queries or Python computations over the generated
inputs.
"""

import collections
import glob

import duckdb
import numpy as np
import pyarrow.parquet as pq

NULL = np.iinfo(np.int64).min

# The reference's example rule (App.java:64-77): a user's second consecutive
# error event, label one hour later. Same shape as the registry oracle for
# q_stream_flagship.
EXAMPLES_SQL = """
    SELECT user_id AS _entity, ts AS _prediction_time,
           ts + INTERVAL 1 HOUR AS _label_time
    FROM (SELECT user_id, ts,
                 count(CASE WHEN event_type = 'error' THEN 1 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS streak
          FROM events)
    WHERE streak = 2"""

FLAGSHIP_SQL = f"""
    WITH ex AS ({EXAMPLES_SQL})
    SELECT _entity,
      epoch_us(_prediction_time) AS pred_us,
      epoch_us(_label_time) AS label_us,
      (SELECT CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) FROM events e
        WHERE e.user_id = ex._entity AND e.event_type = 'error'
          AND e.ts <= ex._prediction_time) AS err_cents,
      (SELECT CAST(sum(1) AS BIGINT) FROM events p
        WHERE p.user_id = ex._entity AND p.event_type = 'purchase'
          AND p.ts <= ex._label_time) AS purchases
    FROM ex"""

# The same training set with window aggregates and as-of joins instead of
# correlated subqueries: linear in the events, for the full-size backfill.
# selftest.py checks that both references agree.
FLAGSHIP_ASOF_SQL = f"""
    WITH ex AS ({EXAMPLES_SQL}),
    err AS (SELECT user_id, ts, sum(CAST(round(value * 100) AS BIGINT))
              OVER (PARTITION BY user_id ORDER BY ts) AS v
            FROM events WHERE event_type = 'error'),
    pur AS (SELECT user_id, ts, count(*) OVER (PARTITION BY user_id ORDER BY ts) AS v
            FROM events WHERE event_type = 'purchase')
    SELECT ex._entity,
      epoch_us(ex._prediction_time) AS pred_us,
      epoch_us(ex._label_time) AS label_us,
      CAST(e.v AS BIGINT) AS err_cents,
      CAST(p.v AS BIGINT) AS purchases
    FROM ex
    ASOF LEFT JOIN err e ON ex._entity = e.user_id AND ex._prediction_time >= e.ts
    ASOF LEFT JOIN pur p ON ex._entity = p.user_id AND ex._label_time >= p.ts"""

ROW_HASH = "hash(_entity, pred_us, label_us, err_cents, purchases)"


def _con():
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '2GB'")
    return con


def backfill_digest(con, out_dir):
    """(rows, order-independent hash) of the program's training set; None
    if it was not written."""
    if not glob.glob(f"{out_dir}/*.parquet"):
        return None
    return con.execute(f"""
        WITH t AS (SELECT _entity, epoch_us(_prediction_time) AS pred_us,
                          epoch_us(_label_time) AS label_us,
                          CAST(err_cents AS BIGINT) AS err_cents,
                          CAST(purchases AS BIGINT) AS purchases
                   FROM read_parquet('{out_dir}/*.parquet'))
        SELECT count(*), CAST(coalesce(sum({ROW_HASH}), 0) AS VARCHAR) FROM t""").fetchone()


def backfill_reference(con, events_path, sql=FLAGSHIP_ASOF_SQL):
    con.execute(f"CREATE OR REPLACE VIEW events AS SELECT * FROM read_parquet('{events_path}')")
    return con.execute(f"""
        WITH t AS ({sql})
        SELECT count(*), CAST(coalesce(sum({ROW_HASH}), 0) AS VARCHAR) FROM t""").fetchone()


def check_backfill(in_dir, out_dir, report):
    """Every timed pass's training set must match the reference's row count
    and row hash."""
    con = _con()
    ref = backfill_reference(con, f"{in_dir}/events.parquet")
    passes = report["passes"]
    failed = sum(1 for i in range(passes)
                 if backfill_digest(con, f"{out_dir}/backfill/{i}") != ref)
    return passes, failed, dict(reference_rows=ref[0])


def check_stream(in_dir, out_dir, report):
    """The sink's examples must equal the reference's on the events sent,
    for every label time the final watermark covers. An example exactly at
    the watermark may or may not have fired yet; it must be right if there."""
    con = _con()
    sent = report["events_sent"]
    wm = report["final_watermark_us"]
    con.execute(f"""CREATE OR REPLACE VIEW events AS
        SELECT * FROM read_parquet('{in_dir}/events.parquet') WHERE event_id < {sent}""")
    ref = con.execute(f"SELECT * FROM ({FLAGSHIP_SQL}) WHERE label_us <= {wm}").fetchall()
    norm = lambda r: tuple(NULL if x is None else int(x) for x in r)
    want = collections.Counter(norm(r) for r in ref if r[2] < wm)
    optional = collections.Counter(norm(r) for r in ref if r[2] == wm)
    got = collections.Counter(
        tuple(int(x) for x in row)
        for row in np.fromfile(f"{out_dir}/examples.bin", dtype="<i8").reshape(-1, 5))
    missing = want - got
    extra = got - want - optional
    attempted = sum((want | got).values())
    return max(1, attempted), sum(missing.values()) + sum(extra.values()), dict(
        expected=sum(want.values()), received=sum(got.values()))


def shingles(text, n=3):
    toks = text.split()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a, b):
    return len(a & b) / len(a | b) if a or b else 0.0


def connected(members, sets, threshold):
    """Whether the exact-Jaccard graph on `members` is connected."""
    members = list(members)
    seen, stack = {members[0]}, [members[0]]
    while stack:
        a = stack.pop()
        for b in members:
            if b not in seen and jaccard(sets[a], sets[b]) >= threshold:
                seen.add(b)
                stack.append(b)
    return len(seen) == len(members)


# Lowest planted-pair recall a dedup pass may have. MinHash-LSH with the
# program's default 3 bands of 3 rows finds a pair at Jaccard s with
# probability 1 - (1 - s^3)^3, about 0.86 for the planted pairs, and
# components add pairs joined through a third document; over 30 seeds the
# passes measured 0.81-0.93. A pass below the floor counts as failed, so
# trading recall for speed is not a correct result.
MIN_RECALL = 0.75


def check_dedup(in_dir, out_dir, report, planted, threshold=0.7):
    """Per pass: every document appears once, no cluster joins documents
    that the exact-Jaccard graph does not connect, and at least MIN_RECALL
    of the planted pairs at or above the threshold end in one cluster."""
    docs = pq.read_table(f"{in_dir}/documents.parquet").to_pydict()
    sets = dict(zip(docs["doc_id"], map(shingles, docs["text"])))
    rows = np.fromfile(f"{out_dir}/clusters.bin", dtype="<i8").reshape(-1, 3)
    passes = sorted(set(rows[:, 0].tolist()))
    pairs = [(a, b) for c in planted for i, a in enumerate(c) for b in c[i + 1:]
             if jaccard(sets[a], sets[b]) >= threshold]
    failed, recalls = 0, []
    for k in passes:
        r = rows[rows[:, 0] == k]
        label = dict(zip(r[:, 1].tolist(), r[:, 2].tolist()))
        ok = len(r) == len(sets) and set(label) == set(sets)
        clusters = collections.defaultdict(list)
        for d, c in label.items():
            clusters[c].append(d)
        ok = ok and all(len(m) == 1 or connected(m, sets, threshold)
                        for m in clusters.values())
        hit = sum(1 for a, b in pairs if label.get(a) is not None and label.get(a) == label.get(b))
        recalls.append(hit / len(pairs) if pairs else 1.0)
        failed += 0 if ok and recalls[-1] >= MIN_RECALL else 1
    return max(1, len(passes)), failed if passes else 1, dict(
        min_recall=min(recalls, default=0.0), planted_pairs=len(pairs))
