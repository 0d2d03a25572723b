"""Seeded query-mix generator for the tsdb_query workload.

Writes one parquet file of queries over the lake that ``events.py``
builds with the same ``users``/``metrics``/``days``.  Four classes:

* raw: an OpenTSDB JSON query, tag-filtered rate -> downsample ->
  group-by through ``QueryEngine.run``.  Ranges of 1-7 days, intervals
  of 1m-1h, selecting one user, one host or a whole colo;
* routed: a plain downsample at 1h or 1d over 7-30 days (clipped to the
  lake), grouped by a tag, through ``Graft.queryRouted``;
* sql: the same dashboard shapes as ``spark.sql`` over the routed view
  (``sql``), with the equivalent JSON query in ``json`` for the check;
* meta: tag values, a basic summary, or last values over the maintained
  series dimension and latest store.

    python3 gen/querymix.py --seed 7 --out queries.parquet
"""
import argparse
import json

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from events import METRICS, START

CLASSES = ["raw", "routed", "sql", "meta"]
# The class of query i is PATTERN[i % 20]: 40% raw, 25% routed, 20% sql,
# 15% meta, interleaved.  These shares are an assumption, not measured
# traffic: no source in the repository gives the class proportions of a
# real OpenTSDB or Aura query stream, so a gain on this mix is a gain on
# this mix.  The per-class medians (raw_p50_ms, ...) do not depend on
# them.  The seed picks the parameters within each
# class, while the classes and the cost-setting shapes (range, interval,
# selectivity) cycle through fixed lists, so seeds differ in what they ask
# for but not in how much work they ask for.
PATTERN = ["raw", "routed", "raw", "sql", "meta", "raw", "routed", "raw", "sql", "raw",
           "routed", "meta", "raw", "sql", "routed", "raw", "meta", "sql", "routed", "raw"]
RAW_DAYS = [1, 2, 3, 5, 7]
RAW_INTERVALS = ["1m", "5m", "15m", "1h"]
SELECTIONS = ["user", "host", "colo"]
VIEW = "graft_points_routed"


def _tag_filter(key, value):
    return {"type": "TagValueLiteralOr", "tagKey": key, "filter": value}


def _filter(metric, sel):
    members = [{"type": "MetricLiteral", "metric": metric}]
    if sel is not None:
        members.append(_tag_filter(*sel))
    return {"type": "Chain", "op": "AND", "filters": members}


def _selection(rng, users, kind):
    """One user, one host, or a whole colo (tags as TsdbViews derives them)."""
    if kind == "user":
        return ("user", str(int(rng.integers(0, users))))
    if kind == "host":
        return ("host", "web%02d" % int(rng.integers(0, 3)))
    return ("colo", str(rng.choice(["den", "sjc"])))


def generate(seed, out, users=100, metrics=5, days=7, n=400):
    """Write ``n`` queries to ``out``; return the class counts."""
    rng = np.random.default_rng(seed)
    end_max = START + days * 86400
    rows = {"qid": [], "cls": [], "json": [], "sql": [], "meta_kind": [], "meta_key": []}
    seen = {c: 0 for c in CLASSES}
    for qid in range(n):
        cls = PATTERN[qid % len(PATTERN)]
        k = seen[cls]
        seen[cls] += 1
        metric = METRICS[int(rng.integers(0, metrics))]
        sql = kind = key = None
        if cls == "raw":
            span = min(RAW_DAYS[k % len(RAW_DAYS)], days) * 86400
            interval = RAW_INTERVALS[k % len(RAW_INTERVALS)]
            end = end_max - int(rng.integers(0, days * 86400 - span + 1)) // 60 * 60
            q = {"start": end - span, "end": end,
                 "filter": _filter(metric, _selection(rng, users, SELECTIONS[k % 3])),
                 "rate": {"interval": "1s"},
                 "downsample": {"interval": interval,
                                "aggregator": str(rng.choice(["sum", "avg", "max"]))},
                 "groupBy": {"tagKeys": [str(rng.choice(["colo", "host"]))],
                             "aggregator": str(rng.choice(["sum", "max"]))}}
        elif cls in ("routed", "sql"):
            interval = ["1h", "1d"][k % 2]
            step = 3600 if interval == "1h" else 86400
            span_days = min([7, 14, 30][k % 3], days)
            end = end_max - (k // 2 % 2) * 86400
            start = max(START, end - span_days * 86400) // step * step
            agg = str(rng.choice(["sum", "max", "min"]))
            gkey = str(rng.choice(["colo", "host"]))
            q = {"start": start, "end": end,
                 "filter": _filter(metric, None),
                 "downsample": {"interval": interval, "aggregator": agg},
                 "groupBy": {"tagKeys": [gkey], "aggregator": agg}}
            if cls == "sql":
                clean = "CASE WHEN isnan(value) THEN CAST(NULL AS DOUBLE) ELSE value END"
                sql = (f"SELECT tags['{gkey}'] AS {gkey}, ts - ts % {step} AS bucket_ts, "
                       f"{agg}({clean}) AS value FROM {VIEW} "
                       f"WHERE metric = '{metric}' AND ts >= {start} AND ts < {end} "
                       f"GROUP BY 1, 2")
        else:
            kind = ["tag_values", "basic", "last_value"][k % 3]
            sel = _selection(rng, users, SELECTIONS[k // 3 % 3])
            q = {"filter": _filter(metric, None if kind == "tag_values" else sel)}
            if kind == "tag_values":
                key = str(rng.choice(["user", "host", "colo"]))
        rows["qid"].append(qid)
        rows["cls"].append(cls)
        rows["json"].append(json.dumps(q))
        rows["sql"].append(sql)
        rows["meta_kind"].append(kind)
        rows["meta_key"].append(key)
    pq.write_table(pa.table(rows), out)
    return {c: rows["cls"].count(c) for c in CLASSES}


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--users", type=int, default=100)
    p.add_argument("--metrics", type=int, default=5)
    p.add_argument("--days", type=int, default=7)
    p.add_argument("-n", type=int, default=400)
    a = p.parse_args()
    print(generate(a.seed, a.out, a.users, a.metrics, a.days, a.n))


if __name__ == "__main__":
    main()
