"""Seeded input generators for the benchmark.

The program under test sees only what these functions write to disk.
The expectations the checks need (bar counts, identities, factors) come
back from the generator in memory.
"""
import bisect
import datetime as dt
import gzip
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MINUTES = 390                      # 09:30-16:00 ET regular session
SESSION_OPEN_UTC = dt.timedelta(hours=14, minutes=30)
FIRST_DAY = dt.date(2024, 3, 6)    # a Wednesday: the window spans a weekend
SPLIT_RATIOS = [2.0, 3.0, 4.0, 0.1, 0.5]   # split_to/split_from; <1 = reverse
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def trading_days(n):
    days, d = [], FIRST_DAY
    while len(days) < n:
        if d.weekday() < 5:
            days.append(d)
        d += dt.timedelta(days=1)
    return days


def epoch_ns(day):
    t = dt.datetime.combine(day, dt.time()) + SESSION_OPEN_UTC
    return int(t.replace(tzinfo=dt.timezone.utc).timestamp()) * 10**9


class Market:
    """Minute-bar flat files plus refdata for a universe of tickers.

    Special securities (besides plain tickers with random splits and
    dividends):
      RNMA -> RNMB  a ticker rename: one FIGI, two validity windows;
      FGCH          a mid-window FIGI change on one ticker (two ids);
      FBCK          splits without a FIGI, so its id group falls back
                    to selecting events by ticker; one split is dated on
                    a Saturday and snaps forward to Monday;
      NOFG          absent from the security master (NOFIGI__ id).
    """

    def __init__(self, seed, n_tickers, n_days):
        rng = np.random.default_rng(seed)
        self.days = trading_days(n_days)
        k = n_days // 2
        plain = [f"T{i:03d}" for i in range(n_tickers - 4)]
        self.tickers_by_day = {}
        for i, d in enumerate(self.days):
            self.tickers_by_day[d] = (["RNMA" if i < k else "RNMB",
                                       "FGCH", "FBCK", "NOFG"] + plain)
        d0 = self.days[0]
        dk = self.days[k]
        dk1 = self.days[k - 1]
        sm = [("RNMA", "BBG0RENAME01", None, dk1),
              ("RNMB", "BBG0RENAME01", dk, None),
              ("FGCH", "BBG0FGCHOLD1", None, dk1),
              ("FGCH", "BBG0FGCHNEW1", dk, None),
              ("FBCK", "BBG0FBCK0001", d0 - dt.timedelta(days=400), None)]
        sm += [(t, f"BBG0{t}PL", d0 - dt.timedelta(days=int(rng.integers(30, 900))), None)
               for t in plain]
        last = self.days[-1]
        saturday = next(d for d in (d0 + dt.timedelta(days=j) for j in range(7))
                        if d.weekday() == 5)
        splits = [("RNMB", self.days[k + 1], 2.0, "BBG0RENAME01"),
                  ("FGCH", self.days[k + 1], 0.1, "BBG0FGCHNEW1"),
                  ("FBCK", saturday, 3.0, None),
                  ("NOFG", self.days[2], 0.5, None)]
        divs = [("RNMA", self.days[1], 0.25, "BBG0RENAME01"),
                ("FGCH", self.days[1], 0.10, "BBG0FGCHOLD1"),
                ("NOFG", self.days[3], 0.05, None),
                ("FBCK", last + dt.timedelta(days=5), 9.9, None)]  # after last bar
        for t in plain:
            figi = f"BBG0{t}PL"
            if rng.random() < 0.35:
                day = self.days[int(rng.integers(1, n_days))]
                splits.append((t, day, float(rng.choice(SPLIT_RATIOS)), figi))
            if rng.random() < 0.45:
                day = self.days[int(rng.integers(1, n_days))]
                divs.append((t, day, round(float(rng.uniform(0.05, 0.8)), 2), figi))
        self.sm, self.splits, self.divs = sm, splits, divs

        # Which minutes trade: a few illiquid gaps so counts vary per bar set.
        self.bars = {}
        for d in self.days:
            for t in self.tickers_by_day[d]:
                mask = rng.random(MINUTES) >= 0.02
                self.bars[(t, d)] = np.flatnonzero(mask)
        self.n_bars = sum(len(self.bars[(t, d)])
                                  for d in self.days
                                  for t in self.tickers_by_day[d])
        self._identity()
        self._prices(rng)

    # -- point-in-time identity and the expected factor path -------------
    def id_of(self, ticker, day):
        rows = [r for r in self.sm if r[0] == ticker]
        inw = [r for r in rows if (r[2] is None or day >= r[2]) and
               (r[3] is None or day <= r[3])]
        if inw:
            best = max(inw, key=lambda r: (r[2] is not None, r[2] or dt.date.min))
            return best[1]
        return "NOFIGI__" + ticker

    def _select_snap(self, events):
        """Per id group: direct events by FIGI (else NOFIGI__ticker), or
        every event of the group's first-day ticker when it has none;
        each snapped to the id's first trading day on or after it."""
        out = {}
        for gid, days in self.id_days.items():
            gticker = min((d, t) for d, t in days)[1]
            ev_id = lambda e: e[3] if e[3] is not None else "NOFIGI__" + e[0]
            sel = [e for e in events if ev_id(e) == gid]
            if not sel:
                sel = [e for e in events if e[0] == gticker]
            dlist = sorted({d for d, _ in days})
            for e in sel:
                j = bisect.bisect_left(dlist, e[1])
                if j < len(dlist):
                    out.setdefault((gid, dlist[j]), []).append(e[2])
        return out

    def _identity(self):
        self.id_days = {}
        self.ids = {}
        for d in self.days:
            for t in self.tickers_by_day[d]:
                i = self.id_of(t, d)
                self.ids[(t, d)] = i
                self.id_days.setdefault(i, set()).add((d, t))
        split_days = self._select_snap(self.splits)
        self.factor = {}
        for gid, days in self.id_days.items():
            dlist = sorted({d for d, _ in days})
            cum, path = 1.0, []
            for d in dlist:
                for r in split_days.get((gid, d), []):
                    cum *= r
                path.append(cum)
            for d, f in zip(dlist, path):
                self.factor[(gid, d)] = f / path[-1]
        self.div_days = {k: sum(v) for k, v in self._select_snap(self.divs).items()}

    def _prices(self, rng):
        """Random-walk split-adjusted closes per ticker; raw = adjusted / factor."""
        self.raw_close = {}
        for t in sorted({t for d in self.days for t in self.tickers_by_day[d]}):
            level = float(rng.uniform(20, 200))
            for d in self.days:
                if t not in self.tickers_by_day[d]:
                    continue
                mins = self.bars[(t, d)]
                steps = rng.normal(0, 0.0008, len(mins))
                adj = level * np.exp(np.cumsum(steps))
                level = float(adj[-1]) if len(adj) else level
                f = self.factor.get((self.ids.get((t, d)), d), 1.0)
                self.raw_close[(t, d)] = np.round(adj / f, 2).clip(0.01)

    # -- files ------------------------------------------------------------
    def write_day(self, day, path, rng):
        rows = ["ticker,volume,open,close,high,low,window_start,transactions"]
        base = epoch_ns(day)
        for t in self.tickers_by_day[day]:
            mins = self.bars[(t, day)]
            c = self.raw_close[(t, day)]
            o = np.round(c * (1 + rng.normal(0, 0.0005, len(c))), 2).clip(0.01)
            hi = np.maximum(o, c) + 0.01
            lo = (np.minimum(o, c) - 0.01).clip(0.01)
            vol = rng.integers(100, 50000, len(c))
            n = rng.integers(1, 400, len(c))
            ws = base + mins.astype(np.int64) * 60 * 10**9
            rows.extend(f"{t},{vol[j]},{o[j]:.2f},{c[j]:.2f},{hi[j]:.2f},{lo[j]:.2f},{ws[j]},{n[j]}"
                        for j in range(len(c)))
        with gzip.open(path, "wt", compresslevel=1) as f:
            f.write("\n".join(rows) + "\n")

    def write(self, root, seed):
        rng = np.random.default_rng(seed + 7919)
        os.makedirs(f"{root}/drops", exist_ok=True)
        for d in self.days:
            self.write_day(d, f"{root}/drops/{d.isoformat()}.csv.gz", rng)
        os.makedirs(f"{root}/refdata", exist_ok=True)
        date = pa.date32()
        pq.write_table(pa.table({
            "ticker": [r[0] for r in self.sm],
            "composite_figi": [r[1] for r in self.sm],
            "effective_start": pa.array([r[2] for r in self.sm], date),
            "effective_end": pa.array([r[3] for r in self.sm], date)}),
            f"{root}/refdata/security_master.parquet")
        pq.write_table(pa.table({
            "ticker": [e[0] for e in self.splits],
            "execution_date": pa.array([e[1] for e in self.splits], date),
            "split_from": [1.0 if e[2] >= 1 else 1 / e[2] for e in self.splits],
            "split_to": [e[2] if e[2] >= 1 else 1.0 for e in self.splits],
            "ratio": [e[2] for e in self.splits],
            "composite_figi": pa.array([e[3] for e in self.splits], pa.string())}),
            f"{root}/refdata/splits.parquet")
        pq.write_table(pa.table({
            "ticker": [e[0] for e in self.divs],
            "ex_date": pa.array([e[1] for e in self.divs], date),
            "cash_amount": [e[2] for e in self.divs],
            "composite_figi": pa.array([e[3] for e in self.divs], pa.string())}),
            f"{root}/refdata/dividends.parquet")


def corpus(root, seed, n_docs, n_vecs, near_dup_share=0.05):
    """`documents` + `embeddings` in the testdata schema and value
    distributions: 30-word vocabulary, 10-100 words per document, source
    = doc_id % 20, and `near_dup_share` of documents copying an earlier
    document's text with a trailing " dup" (two copies of one document
    are exact duplicates of each other)."""
    rng = np.random.default_rng(seed)
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < near_dup_share:
            texts.append(texts[int(rng.integers(0, i))].removesuffix(" dup") + " dup")
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    os.makedirs(root, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": list(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{root}/documents.parquet")
    v = rng.normal(0, 1, (n_vecs, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())}),
        f"{root}/embeddings.parquet")
