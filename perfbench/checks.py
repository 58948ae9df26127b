"""Output checks. Each returns a list of failure messages (empty = pass).

Every expected value comes from a computation that shares no code with
the package: DuckDB over the same parquet files, or a plain-Python loop
over the staged points. Nothing is compared with a stored copy of an
earlier run's output.
"""

from __future__ import annotations

import decimal
import hashlib
import math
import random

HISTORY_CAP = 100
BEST_SAMPLE = 12


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.10g}"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def rows_hash(cols, rows) -> str:
    """Order-insensitive hash over values, columns taken in name order
    (floats to 10 significant digits, DuckDB decimals as floats)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return f"{len(lines)}:{h.hexdigest()}"


def duckdb_views(con, data_dir: str, tables) -> None:
    for t in tables:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )


def check_oracles(results: dict, oracle_sql: dict, con) -> list[str]:
    """``results[name] = (columns, rows)`` of one sweep; each must
    hash-equal the rows DuckDB computes from the query's oracle SQL."""
    bad = []
    for name, (cols, rows) in results.items():
        res = con.execute(oracle_sql[name])
        ocols = [d[0] for d in res.description]
        if sorted(cols) != sorted(ocols):
            bad.append(f"{name}: columns {sorted(cols)} != oracle {sorted(ocols)}")
        elif rows_hash(cols, rows) != rows_hash(ocols, res.fetchall()):
            bad.append(f"{name}: rows differ from the DuckDB oracle")
    return bad


def check_repeats(first: dict, sweeps: list) -> list[str]:
    """Every timed sweep returns the same rows as the first sweep;
    ``first`` and each sweep map query name -> rows_hash."""
    return [
        f"sweep {i}: {name} returned other rows than the first sweep"
        for i, sweep in enumerate(sweeps)
        for name, h in sweep.items()
        if h != first[name]
    ]


def _finite(x) -> bool:
    return x is not None and math.isfinite(x)


def expected_histories(arrival_files) -> dict:
    """Loop oracle of the stream's per-key history: for each arrival
    file in order, drop points with a non-finite coordinate, append the
    rest to the key's stored history, keep the first occurrence (by
    ts_ms, event_id) of every (lat, lng, accuracy) triple and the
    HISTORY_CAP newest survivors. ``arrival_files`` is a list of row
    lists of (user_id, event_id, ts_ms, lat, lng, accuracy)."""
    hist: dict = {}
    for rows in arrival_files:
        batch: dict = {}
        for user, eid, ts, lat, lng, acc in rows:
            if _finite(lat) and _finite(lng):
                batch.setdefault(user, []).append((ts, eid, lat, lng, acc))
        for user, new in batch.items():
            seen = set()
            kept = []
            for p in sorted(hist.get(user, []) + new):
                if p[2:] not in seen:
                    seen.add(p[2:])
                    kept.append(p)
            hist[user] = kept[-HISTORY_CAP:]
    return hist


def miscounted_triggers(input_rows: list, file_rows: list) -> list[int]:
    """Triggers whose numInputRows differs from the rows of the one
    arrival file they read (one file per trigger)."""
    return [i for i, (n, f) in enumerate(zip(input_rows, file_rows)) if n != f]


def check_stream(
    input_rows: list,
    file_rows: list,
    state_rows: list,
    con,
    expected: dict,
    best_oracle,
    seed: int,
) -> list[str]:
    """The stream checks over one drain.

    ``input_rows``: numInputRows of each non-empty trigger;
    ``file_rows``: rows of each arrival file, in arrival order. A
    trigger whose count is wrong is counted by
    :func:`miscounted_triggers`; here the drain must have read one file
    per trigger. ``state_rows``: (user_id, history, best_lat, best_lng)
    read back from the committed state, history as (ts_ms, event_id,
    lat, lng, accuracy) tuples. ``con`` is
    a DuckDB connection with the staged points as view ``pts``.
    ``expected`` is :func:`expected_histories` of the staged files."""
    bad = []
    if len(input_rows) != len(file_rows):
        bad.append(f"{len(input_rows)} triggers for {len(file_rows)} arrival files")
    finite = "isfinite(lat) AND isfinite(lng)"
    (n_keys,) = con.execute(
        f"SELECT count(DISTINCT user_id) FROM pts WHERE {finite}"
    ).fetchone()
    state = {r[0]: r[1:] for r in state_rows}
    if len(state) != len(state_rows):
        bad.append(f"{len(state_rows)} state rows for {len(state)} keys")
    if len(state) != n_keys:
        bad.append(f"state holds {len(state)} keys, DuckDB counts {n_keys}")
    distinct = dict(con.execute(
        "SELECT user_id, count(*) FROM (SELECT DISTINCT user_id, lat, lng, "
        f"accuracy FROM pts WHERE {finite}) GROUP BY user_id"
    ).fetchall())
    for user, d in distinct.items():
        if user not in state:
            bad.append(f"key {user} missing from the state")
            continue
        history = state[user][0]
        if len(history) != min(HISTORY_CAP, d):
            bad.append(f"key {user}: history length {len(history)} != min(100, {d})")
        elif history != expected.get(user):
            bad.append(f"key {user}: history differs from the loop oracle")
    for user in best_sample(distinct, seed):
        if user not in state:
            bad.append(f"sampled key {user} missing from the state")
            continue
        history, blat, blng = state[user]
        pts = [(h[2], h[3]) for h in history]
        if (blat, blng) not in pts:
            bad.append(f"key {user}: best point is not in its history")
        elif (blat, blng) != tuple(best_oracle(pts)):
            bad.append(f"key {user}: best point differs from the G1 loop oracle")
    return bad


def best_sample(keys, seed: int) -> list:
    """Seeded sample of keys for the best-point check."""
    keys = sorted(keys)
    return random.Random(seed).sample(keys, min(BEST_SAMPLE, len(keys)))
