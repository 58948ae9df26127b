#!/usr/bin/env python3
"""Self-test of the benchmark's output checks.

    python3 perfbench/selftest.py [--seed N]

Runs one warm-up and one timed sweep of batch_relational and one drain
of stream_rescore, then runs every check on the real outputs (which
must pass) and on copies corrupted twice: once with one value changed
and once with one row dropped. Each check must fail on both
corruptions. Exits 0 when every check behaves so.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

import run


def _bump(v):
    return v + 1 if isinstance(v, (int, float)) else f"{v}~"


def batch_cases(w, con) -> list:
    """(check, corruption, failed?) for the two batch checks."""
    import checks
    from pulsar_spark_spark.plans import ORACLES

    w.check(con)  # creates the DuckDB views
    first = w.first
    name = "q1_pricing_summary"
    cols, rows = first[name]
    row = list(rows[0])
    row[cols.index("sum_qty")] = _bump(row[cols.index("sum_qty")])
    changed = dict(first)
    changed[name] = (cols, [tuple(row), *rows[1:]])
    dropped = dict(first)
    dropped[name] = (cols, rows[1:])

    def oracle_fails(res):
        return any("DuckDB oracle" in m for m in checks.check_oracles(res, ORACLES, con))

    def hashes(res):
        return {n: checks.rows_hash(c, r) for n, (c, r) in res.items()}

    timed = w.sweep("selftest")

    def repeat_fails(res):
        return bool(checks.check_repeats(hashes(first), [hashes(res)]))

    intact = not oracle_fails(first) and not repeat_fails(timed)
    return [
        ("batch: intact outputs pass", intact),
        ("oracle hash / value changed", oracle_fails(changed)),
        ("oracle hash / row dropped", oracle_fails(dropped)),
        ("repeat sweep / value changed", repeat_fails(changed)),
        ("repeat sweep / row dropped", repeat_fails(dropped)),
    ]


def stream_cases(w, con) -> list:
    import checks
    from tests.geo_oracle import best_lat_lng_oracle

    w.check(con)  # creates the DuckDB view over the arrival files
    d = w.warm
    counts = [p["numInputRows"] for p in d["progress"]]
    file_rows = w.file_rows()
    state = w.read_state(d["state"])
    expected = w.expected_histories()

    def msgs(counts=counts, state=state):
        return checks.check_stream(
            counts, file_rows, state, con, expected, best_lat_lng_oracle, w.seed)

    def has(sub, ms):
        return any(sub in m for m in ms)

    known = checks.miscounted_triggers(counts, file_rows)
    sample = checks.best_sample([r[0] for r in state], w.seed)
    # the corrupted key: sampled (best-point check), with a history of
    # several points (history check)
    pos = next(i for i, r in enumerate(state) if r[0] in sample and len(r[1]) > 1)
    other = next(r[0] for r in state if r[0] != state[pos][0])

    def with_row(row):
        s = list(state)
        s[pos] = row
        return s

    dropped_state = state[:pos] + state[pos + 1:]
    user, hist, blat, blng = state[pos]
    h0 = hist[0]
    changed_hist = [(h0[0], h0[1], _bump(h0[2]), *h0[3:]), *hist[1:]]
    changed_counts = [counts[0] + 1, *counts[1:]]
    print(f"stream: triggers miscounting numInputRows on intact output: {known}",
          file=sys.stderr)
    return [
        ("stream: intact outputs pass", not msgs()),
        ("input count / value changed",
         0 in checks.miscounted_triggers(changed_counts, file_rows)),
        ("input count / row dropped", has("triggers for", msgs(counts=counts[1:]))),
        ("key count / value changed",
         has("state rows for", msgs(state=with_row((other, hist, blat, blng))))),
        ("key count / row dropped", has("state holds", msgs(state=dropped_state))),
        ("history / value changed",
         has("history differs", msgs(state=with_row((user, changed_hist, blat, blng))))),
        ("history / row dropped",
         has(f"key {user} missing", msgs(state=dropped_state))),
        ("best point / value changed",
         has("best point", msgs(state=with_row((user, hist, _bump(blat), blng))))),
        ("best point / row dropped",
         has(f"sampled key {user} missing", msgs(state=dropped_state))),
    ]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    work = os.path.join(run.HERE, "_work", f"selftest-{os.getpid()}")
    run.prepare_env(work)
    import duckdb

    import gen
    import spans
    import workloads as wl

    tracer = spans.Tracer(False)
    spark = run.start_session(work)
    try:
        data_dir = os.path.join(work, "data")
        rel = wl.Relational(spark, data_dir, gen.write_tables(args.seed, data_dir), tracer)
        rel.warm_up()
        stream = wl.Stream(spark, work, data_dir, args.seed, tracer)
        stream.warm_up()
        con = duckdb.connect()
        cases = batch_cases(rel, con) + stream_cases(stream, con)
        con.close()
    finally:
        run.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    for label, ok in cases:
        print(f"{'ok  ' if ok else 'FAIL'}  {label}")
    return 0 if all(ok for _, ok in cases) else 1


if __name__ == "__main__":
    sys.exit(main())
