"""Output checks. Each returns a list of (operation, problem) pairs; an
empty list passes. An operation counts as failed once, however many
problems it has.

Expectations come from the generator; the program's outputs are read
back with DuckDB, which shares no code with the program.
"""
import os
import subprocess
import sys

import duckdb
import numpy as np
import pandas as pd

import gen

REL_TOL = 1e-9


def _expected_jumps(m):
    """Changes of round(close/close_split, 6) between consecutive bars, per ticker."""
    jumps = {}
    for t in sorted({t for d in m.days for t in m.tickers_by_day[d]}):
        vals = [round(1.0 / m.factor[(m.ids[(t, d)], d)], 6)
                for d in m.days if t in m.tickers_by_day[d] and len(m.bars[(t, d)])]
        n = sum(1 for a, b in zip(vals, vals[1:]) if a != b)
        if n:
            jumps[t] = n
    return jumps


def build_outputs(m, ops):
    """The audit summary and the Series QA invariants of every build."""
    bad = []
    jumps = _expected_jumps(m)
    n_days = {i: len({d for d, _ in days}) for i, days in m.id_days.items()}
    fallback_id = m.ids[("FBCK", m.days[0])]
    first_day = {i: min(d for d, _ in days) for i, days in m.id_days.items()}
    tr_moves = {t for i, days in m.id_days.items() for d, t in days
                if any(gid == i and dd > first_day[i] for gid, dd in m.div_days)}
    for o in ops:
        i, tag = o["i"], f"build {o['i']}"
        if not o["ok"]:
            bad.append((i, f"{tag} failed"))
            continue
        if o["jumps"] != jumps:
            bad.append((i, f"{tag}: split jumps {o['jumps']} != {jumps}"))
        # SA and TR returns are identical (corr 1) unless a dividend
        # moves the TR factor inside the ticker's window.
        off = {t: c for t, c in o["corr"].items()
               if c is None or (t not in tr_moves and abs(c - 1.0) > 1e-9)}
        if off:
            bad.append((i, f"{tag}: SA/TR return correlation off: {off}"))
        got_days = {}
        for id_, _t, nd, fb in o["audit"]:
            got_days[id_] = got_days.get(id_, 0) + nd
            if id_ == fallback_id and not fb:
                bad.append((i, f"{tag}: {id_} should select splits by ticker fallback"))
        if got_days != n_days:
            bad.append((i, f"{tag}: audit trading days per id differ from the generator"))
    return bad


def lake_files(m, out, op):
    """Bar counts of the raw lake and manifest, every bar's id and
    close_split against the generator, and close_tr against a DuckDB
    recomputation of the total-return factors. Problems are charged to
    `op`, the operation that wrote the files last."""
    return [(op, b) for b in _lake_files(m, out)]


def _lake_files(m, out):
    con = duckdb.connect()
    bad = []
    raw = con.execute(f"SELECT count(*) FROM read_parquet('{out}/raw/**/*.parquet')").fetchone()[0]
    if raw != m.n_bars:
        bad.append(f"raw lake holds {raw} bars, generated {m.n_bars}")
    mrows = con.execute(f"SELECT sum(rows) FROM read_parquet('{out}/manifest/*.parquet')").fetchone()[0]
    if mrows != m.n_bars:
        bad.append(f"manifest rows {mrows} != {m.n_bars} bars")
    keys, ts, close, factor, ids = [], [], [], [], []
    for (t, d), mins in m.bars.items():
        i = m.ids[(t, d)]
        keys += [t] * len(mins)
        ts.append(gen.epoch_ns(d) // 1000 + mins.astype(np.int64) * 60_000_000)
        close.append(m.raw_close[(t, d)].astype(np.float32))
        factor.append(np.full(len(mins), m.factor[(i, d)]))
        ids += [i] * len(mins)
    exp = pd.DataFrame({"ticker": keys, "us": np.concatenate(ts), "close": np.concatenate(close),
                        "factor": np.concatenate(factor), "id": ids})
    divs = pd.DataFrame([(i, d, a) for (i, d), a in m.div_days.items()],
                        columns=["id", "event_day", "amount"])
    con.register("exp", exp)
    con.register("divs", divs)
    con.execute(f"""CREATE TABLE lake AS SELECT ticker, epoch_us(datetime::TIMESTAMP) AS us,
        id, event_day, close, close_split, close_tr
        FROM read_parquet('{out}/adjusted/**/*.parquet', hive_partitioning = true)""")
    n, missing, wrong_id, wrong_split = con.execute(f"""
        SELECT count(*), count(*) FILTER (WHERE l.us IS NULL OR e.us IS NULL),
          count(*) FILTER (WHERE l.id <> e.id),
          count(*) FILTER (WHERE l.close <> e.close OR
            abs(l.close_split - e.close::DOUBLE * e.factor) > {REL_TOL} * abs(e.close::DOUBLE * e.factor))
        FROM lake l FULL OUTER JOIN exp e ON l.ticker = e.ticker AND l.us = e.us""").fetchone()
    if missing or n != len(exp):
        bad.append(f"adjusted lake: {missing} bars unmatched against {len(exp)} generated")
    if wrong_id:
        bad.append(f"adjusted lake: {wrong_id} bars carry the wrong point-in-time id")
    if wrong_split:
        bad.append(f"adjusted lake: {wrong_split} bars off the generator's split-adjusted path")
    wrong_tr = con.execute(f"""
        WITH base AS (SELECT id, event_day, max_by(close_split, us) AS b FROM lake GROUP BY ALL),
        g AS (SELECT b.id, b.event_day,
                CASE WHEN d.amount IS NOT NULL AND lag(b.b) OVER w IS NOT NULL AND lag(b.b) OVER w > 0
                     THEN (lag(b.b) OVER w - d.amount) / lag(b.b) OVER w ELSE 1.0 END AS g
              FROM base b LEFT JOIN divs d ON d.id = b.id AND d.event_day = b.event_day
              WINDOW w AS (PARTITION BY b.id ORDER BY b.event_day)),
        cum AS (SELECT id, event_day, exp(sum(ln(g)) OVER (PARTITION BY id ORDER BY event_day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS gc FROM g),
        f AS (SELECT id, event_day, gc / last_value(gc) OVER (PARTITION BY id ORDER BY event_day
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS trf FROM cum)
        SELECT count(*) FILTER (WHERE f.trf IS NULL OR
                 abs(l.close_tr - l.close_split * f.trf) > {REL_TOL} * abs(l.close_split * f.trf))
        FROM lake l LEFT JOIN f ON f.id = l.id AND f.event_day = l.event_day""").fetchone()[0]
    if wrong_tr:
        bad.append(f"adjusted lake: {wrong_tr} bars' close_tr differ from the DuckDB recomputation")
    return bad


def curation_outputs(root, corpus_dir, out):
    """Each row's last output against its DuckDB oracle (scripts/selfcheck.py)."""
    r = subprocess.run([sys.executable, os.path.join(root, "scripts", "selfcheck.py"), corpus_dir, out],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=120)
    bad = [(ln.split()[1].rstrip(":"), ln) for ln in r.stdout.splitlines() if ln.startswith("FAIL")]
    if r.returncode != 0 and not bad:
        bad.append(("selfcheck", f"selfcheck exited {r.returncode}: {r.stdout[-500:]}"))
    return bad
