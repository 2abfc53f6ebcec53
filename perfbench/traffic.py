#!/usr/bin/env python3
"""Derive the benchmark's traffic profile from an `events` table.

    python3 perfbench/traffic.py <dir>/events.parquet > perfbench/traffic.json

The committed `traffic.json` was derived from the sf0.1 `events` table of
the repository's test data (TESTDATA.md), the table the sizing run in
perfbench/README.md used. `gen.py` takes every shape value it can from
it. Needs the `duckdb` Python module; the benchmark itself does not.
"""
import json
import math
import sys

MAPPED_USERS = 140  # graft.pipeline.Dims.MappedUsers


def profile(path):
    import duckdb
    c = duckdb.connect()
    e = "read_parquet('%s')" % path.replace("'", "''")

    def one(sql):
        return c.sql(sql).fetchone()

    n, devices, mapped, mapped_events, ids = one(
        "select count(*), count(distinct user_id), "
        "count(distinct user_id) filter (where user_id < %d), "
        "count(*) filter (where user_id < %d), count(distinct event_id) from %s"
        % (MAPPED_USERS, MAPPED_USERS, e))
    counts = [r[0] for r in c.sql(
        "select count(*) n from %s group by user_id order by n desc" % e).fetchall()]
    # least-squares slope of log(count) on log(rank): the Zipf exponent
    xs = [math.log(r + 1) for r in range(len(counts))]
    ys = [math.log(v) for v in counts]
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
        (x - mx) ** 2 for x in xs)
    types = dict(c.sql("select event_type, count(*) / %d from %s group by 1 "
                       "order by 1" % (n, e)).fetchall())
    v_mean, v_p50, v_p90 = one(
        "select avg(value), quantile_cont(value, 0.5), quantile_cont(value, 0.9) "
        "from %s" % e)
    k_min, k_max, k_distinct = one(
        "select min(k), max(k), count(distinct k) from (select "
        "cast(json_extract(props, '$.k') as int) k from %s)" % e)
    g_mean, g_p50, g_p90 = one(
        "select avg(g), quantile_cont(g, 0.5), quantile_cont(g, 0.9) from ("
        "select epoch(ts) - epoch(lag(ts) over (order by event_id)) g from %s) "
        "where g is not null" % e)
    late = one(
        "select count(*) filter (where ts < m) from (select ts, max(ts) over ("
        "order by event_id rows between unbounded preceding and 1 preceding) m "
        "from %s)" % e)[0]
    resent = n - one("select count(*) from (select distinct user_id, ts, "
                     "event_type, value, props from %s)" % e)[0]
    r = lambda v: round(v, 4)  # noqa: E731
    return {
        "source": "sf0.1 events table of the repository test data",
        "events": n,
        "devices": devices,
        "mapped_devices": mapped,
        "mapped_event_share": r(mapped_events / n),
        "device_zipf_s": r(-slope),
        "device_events_max_over_mean": r(counts[0] / (n / devices)),
        "event_type_shares": {k: r(v) for k, v in types.items()},
        "value_mean": r(v_mean),
        "value_p50": r(v_p50),
        "value_p90": r(v_p90),
        "props_k_min": k_min,
        "props_k_max": k_max,
        "props_k_distinct": k_distinct,
        "ts_gap_mean_s": r(g_mean),
        "ts_gap_p50_s": r(g_p50),
        "ts_gap_p90_s": r(g_p90),
        "duplicate_event_ids": n - ids,
        "resent_share": r(resent / n),
        "out_of_order_share": r(late / n),
    }


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    print(json.dumps(profile(sys.argv[1]), indent=2, sort_keys=True))
