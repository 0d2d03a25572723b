"""Seeded events-stream generator for the tsdb_query and ingest workloads.

Writes a directory of parquet files in the shape of the synthetic
``events`` table (event_id, ts, user_id, event_type, value), one file per
arrival micro-batch (``batch``): the input a file-source stream with one
file per trigger reads.  ``kind`` marks each row regular (0), late (1),
resend (2) or future (3); graft never reads it.  graft maps a row to the
series (event_type, {user, host, colo, env}) with
``TsdbViews.pointsFromEvents``.

Every series reports every ``step`` seconds (with jitter) over ``days``
days.  On top of that regular traffic the generator plants three kinds
of irregular rows, each a share of the regular rows (the shares are
arguments; the benchmark's values are assumptions, not measured
traffic):

* late: the point keeps its arrival position but its event time moves
  2-12 h back, into a segment whose rollup window has usually closed;
* resend: a second write of an existing (series, ts) with a new value,
  arriving up to an hour later (last-write-wins resolves it);
* future: an event time 30 days ahead of the stream, which admission
  must drop.

Rows are ordered by arrival time and cut into batches of ``batch_span``
arrival seconds; file ``b00012.parquet`` holds batch 12.  The same arguments always give the same file.

    python3 gen/events.py --seed 7 --out events/
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

START = 1704067200  # 2024-01-01T00:00:00Z, a day boundary
METRICS = ["cpu", "mem", "net", "disk", "req"]
FUTURE_SEC = 30 * 86400


def generate(seed, out, users=100, metrics=5, days=7, step=600,
             batch_span=1200, late=0.0, resend=0.0, future=0.0):
    """Write the stream under directory ``out``; return its sizes and shares."""
    rng = np.random.default_rng(seed)
    names = np.array(METRICS[:metrics])
    n_series = users * metrics
    slots = days * 86400 // step
    # series-major grid of (series, slot) with per-point jitter
    series = np.repeat(np.arange(n_series), slots)
    slot = np.tile(np.arange(slots), n_series)
    ts = START + slot * step + rng.integers(0, step, size=series.size)
    value = np.round(rng.uniform(0.0, 100.0, size=series.size), 2)
    arrival = ts.copy()
    kind = np.zeros(series.size, dtype=np.int8)

    n = series.size
    n_late, n_resend, n_future = int(n * late), int(n * resend), int(n * future)
    late_ix = rng.choice(n, size=n_late, replace=False)
    ts[late_ix] -= rng.integers(2 * 3600, 12 * 3600, size=n_late)
    kind[late_ix] = 1
    src = rng.choice(n, size=n_resend, replace=False)
    fut = rng.choice(n, size=n_future, replace=False)
    series = np.concatenate([series, series[src], series[fut]])
    ts = np.concatenate([ts, ts[src], ts[fut] + FUTURE_SEC])
    value = np.concatenate([value,
                            np.round(rng.uniform(0.0, 100.0, size=n_resend), 2),
                            np.round(rng.uniform(0.0, 100.0, size=n_future), 2)])
    arrival = np.concatenate([arrival,
                              arrival[src] + rng.integers(1, 3600, size=n_resend),
                              arrival[fut]])
    kind = np.concatenate([kind, np.full(n_resend, 2, np.int8),
                           np.full(n_future, 3, np.int8)])

    order = np.lexsort((series, arrival))
    series, ts, value, arrival, kind = (a[order] for a in (series, ts, value, arrival, kind))
    batch = ((arrival - START) // batch_span).astype(np.int32)
    table = pa.table({
        "event_id": pa.array(np.arange(series.size, dtype=np.int64)),
        "ts": pa.array(ts * 1_000_000, type=pa.timestamp("us")),
        "user_id": pa.array((series // metrics).astype(np.int64)),
        "event_type": pa.array(names[series % metrics]),
        "value": pa.array(value),
        "batch": pa.array(batch),
        "kind": pa.array(kind),
    })
    os.makedirs(out, exist_ok=True)
    cuts = np.searchsorted(batch, np.arange(int(batch.max()) + 2))
    for b in range(int(batch.max()) + 1):
        pq.write_table(table.slice(cuts[b], cuts[b + 1] - cuts[b]),
                       os.path.join(out, "b%05d.parquet" % b))
    return {"rows": int(series.size), "series": int(n_series), "days": days,
            "start": START, "end": START + days * 86400, "batches": int(batch.max()) + 1,
            "late": n_late, "resend": n_resend, "future": n_future,
            "batch_rows": np.diff(cuts).tolist(),
            "batch_future": [int((kind[cuts[b]:cuts[b + 1]] == 3).sum())
                             for b in range(int(batch.max()) + 1)]}


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--users", type=int, default=100)
    p.add_argument("--metrics", type=int, default=5)
    p.add_argument("--days", type=int, default=7)
    p.add_argument("--step", type=int, default=600)
    p.add_argument("--batch-span", type=int, default=1200)
    p.add_argument("--late", type=float, default=0.0)
    p.add_argument("--resend", type=float, default=0.0)
    p.add_argument("--future", type=float, default=0.0)
    a = p.parse_args()
    print(generate(a.seed, a.out, a.users, a.metrics, a.days, a.step, a.batch_span,
                   a.late, a.resend, a.future))


if __name__ == "__main__":
    main()
