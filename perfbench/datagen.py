"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed: the same seed writes
byte-identical parquet files, two seeds write different ones. Row counts
do not depend on the seed, so every seed gives the same amount of work.

- ``write_star_schema``: the eight tables the analytics queries read
  (region, nation, customer, supplier, part, orders, lineitem, events) at
  the sizes of the sf0.1 test tables.
- ``write_corpus``: the documents and embeddings tables the dedup queries
  read, with planted near-duplicates and exact duplicates.
- ``LiveFeed``: the live-score feed — a silver ``matches`` target and a
  sequence of bronze poll files, plus the latest-wins model the final
  target must equal.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts of the sf0.1 test tables.
STAR_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
}
N_USERS = 1_500
N_DOCS = 1_500
N_VECS = 2_000
EMB_DIM = 64

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)

_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, table) so adding a table never
    shifts the values of another."""
    return np.random.default_rng([seed, sum(map(ord, stream)) * 7919 + len(stream)])


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Prices with at most two decimals, so decimal(18,2) sums are exact."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> np.ndarray:
    lo = np.datetime64(first, "D")
    span = int((np.datetime64(last, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")).astype("datetime64[us]")


def _write(path: str, columns: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(columns), path)


def write_star_schema(out_dir: str, seed: int) -> dict[str, int]:
    """Write the analytics tables; returns the row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    n = STAR_ROWS
    _write(f"{out_dir}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    _write(f"{out_dir}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r = _rng(seed, "customer")
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(f"{out_dir}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n["customer"], dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
        "c_nationkey": pa.array(r.integers(0, 25, n["customer"]).astype(np.int32)),
        "c_acctbal": pa.array(_cents(r, -999.99, 9999.99, n["customer"])),
        "c_mktsegment": pa.array(segments[r.integers(0, 5, n["customer"])]),
    })

    r = _rng(seed, "supplier")
    _write(f"{out_dir}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n["supplier"], dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
        "s_nationkey": pa.array(r.integers(0, 25, n["supplier"]).astype(np.int32)),
        "s_acctbal": pa.array(_cents(r, -999.99, 9999.99, n["supplier"])),
    })

    r = _rng(seed, "part")
    colors = np.array(["red", "blue", "green", "small", "large", "steel"])
    nouns = np.array(["widget", "bolt", "ring", "gear", "valve", "panel"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    np_ = n["part"]
    _write(f"{out_dir}/part.parquet", {
        "p_partkey": pa.array(np.arange(np_, dtype=np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(colors[r.integers(0, 6, np_)], " "),
                                       nouns[r.integers(0, 6, np_)])),
        "p_brand": pa.array(np.char.add("Brand#", r.integers(1, 26, np_).astype(str))),
        "p_type": pa.array(types[r.integers(0, 6, np_)]),
        "p_size": pa.array(r.integers(1, 51, np_).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (np.arange(np_) % 2000) / 10.0),
    })

    r = _rng(seed, "orders")
    no = n["orders"]
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(f"{out_dir}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n["customer"], no).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[r.integers(0, 3, no)]),
        "o_totalprice": pa.array(_cents(r, 1000.0, 500000.0, no)),
        "o_orderdate": pa.array(_days(r, "1995-01-01", "2001-08-01", no)),
        "o_orderpriority": pa.array(priorities[r.integers(0, 5, no)]),
    })

    r = _rng(seed, "lineitem")
    nl = n["lineitem"]
    _write(f"{out_dir}/lineitem.parquet", {
        "l_orderkey": pa.array(r.integers(0, no, nl).astype(np.int64)),
        "l_partkey": pa.array(r.integers(0, np_, nl).astype(np.int64)),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], nl).astype(np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_cents(r, 900.0, 105000.0, nl)),
        "l_discount": pa.array(r.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, nl)]),
        "l_shipdate": pa.array(_days(r, "1995-01-02", "2001-11-04", nl)),
    })

    r = _rng(seed, "events")
    ne = n["events"]
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(r.integers(0, span_us, ne)) + (
        np.datetime64("2024-01-01T00:00:00", "us") - _EPOCH
    ).astype(np.int64)
    kinds = np.array(["click", "error", "purchase", "signup", "view"])
    _write(f"{out_dir}/events.parquet", {
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(r.integers(0, N_USERS, ne).astype(np.int64)),
        "event_type": pa.array(kinds[r.integers(0, 5, ne)]),
        "value": pa.array(np.round(r.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, ne)]),
    })
    return {"region": 5, "nation": 25, **n}


def write_corpus(out_dir: str, seed: int) -> dict[str, int]:
    """Write the documents and embeddings tables.

    5% of documents are near-duplicates (an earlier original plus one
    appended token, trigram Jaccard >= 0.89, far above the 0.5 threshold
    and the MinHash banding knee) and a few are exact copies; a third of
    them keep the original's (lang, source) block so the blocked queries
    find pairs. Random documents share almost no trigrams, so no pair sits
    near a threshold where LSH recall could fall below 1.
    """
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, "documents")
    texts: list[str] = []
    langs = r.choice(np.array(LANGS), N_DOCS, p=LANG_P)
    sources = np.char.add("src", r.integers(0, 20, N_DOCS).astype(str))
    originals: list[int] = []
    kind = r.random(N_DOCS)
    for i in range(N_DOCS):
        if i >= 100 and kind[i] < 0.05:
            src = originals[int(r.integers(0, len(originals)))]
            texts.append(texts[src] + (" dup" if kind[i] > 0.002 else ""))
            if r.random() < 1 / 3:
                langs[i], sources[i] = langs[src], sources[src]
        else:
            toks = r.integers(0, len(VOCAB), int(r.integers(10, 101)))
            texts.append(" ".join(VOCAB[t] for t in toks))
            originals.append(i)
    _write(f"{out_dir}/documents.parquet", {
        "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array(sources),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })

    r = _rng(seed, "embeddings")
    v = r.standard_normal((N_VECS, EMB_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(f"{out_dir}/embeddings.parquet", {
        "vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, N_VECS).astype(np.int32)),
    })
    return {"documents": N_DOCS, "embeddings": N_VECS}


# ---------------------------------------------------------------------------
# Live-score feed
# ---------------------------------------------------------------------------

MATCH_COLS = (
    "match_id", "competition_id", "season", "matchday", "match_date",
    "home_team_id", "away_team_id", "venue_id", "referee_id", "status",
    "home_score", "away_score", "scraped_at",
)
_T0_MS = int(dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc).timestamp() * 1000)
N_TEAMS = 400
#: Simulated time between polls: the reference's live-score loop runs every
#: 30 s (``scraping_live_scores_interval_seconds``). The watermark is 10 minutes.
POLL_GAP_MS = 30_000
_SEASONS = ("2018/2019", "2019/2020", "2020/2021", "2021/2022", "2022/2023", "2023/2024")


def _iso_ms(ms: int) -> str:
    return dt.datetime.fromtimestamp(ms / 1000, dt.timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S.%f"
    )[:-3] + "Z"


class LiveFeed:
    """The live-score scraper's output, and the table it must produce.

    ``write_target`` writes the silver ``matches`` table; ``write_poll``
    writes the next bronze poll file (``scraper_name``, ``data`` JSON,
    ``ingested_at``). Polls are ``POLL_GAP_MS`` apart on the simulated
    clock. Each poll's rows are mostly fresh ticks of a small, skewed set
    of live matches, plus:

    - exact duplicates of a fresh tick in the same poll,
    - late ticks: older than the key's current row, so the expected row
      is the same whether or not the watermark drops them,
    - malformed JSON, which refinement must reject.

    Every (match_id, scraped_at) pair is emitted with one content only.
    ``expected`` is the latest-wins model: one row per match, the tick
    with the greatest ``scraped_at``.

    Only the poll cadence comes from the reference. The rest are
    assumptions no recorded traffic confirms: 3,000 matches live at once,
    a fifth of them not yet in the target, ticks spread over them with a
    Zipf(0.8) skew, 1% each of duplicates, late ticks and malformed rows,
    and late ticks up to one hour older than the key's current row.
    """

    def __init__(self, seed: int, target_rows: int = 300_000, poll_rows: int = 5_000,
                 n_live: int = 3_000):
        self.r = _rng(seed, "live")
        self.target_rows = target_rows
        self.poll_rows = poll_rows
        self.polls = 0
        self._mtime0 = int(time.time())
        self.rows_written = 0
        self.rejected_written = 0
        self.current: dict[int, tuple] = {}
        self._used: set[tuple[int, int]] = set()
        # live set: the newest target matches plus matches not yet in it
        n_new = n_live // 5
        self.live_ids = np.concatenate([
            np.arange(target_rows - (n_live - n_new), target_rows),
            np.arange(target_rows, target_rows + n_new),
        ]).astype(np.int64)
        # Zipf-like skew: a few live matches take most of the ticks
        w = 1.0 / np.arange(1, n_live + 1) ** 0.8
        self.live_p = w / w.sum()
        self.r.shuffle(self.live_ids)

    # -- silver target ---------------------------------------------------

    def write_target(self, path: str) -> None:
        r, n = self.r, self.target_rows
        os.makedirs(path, exist_ok=True)
        ids = np.arange(n, dtype=np.int64)
        home = r.integers(0, N_TEAMS, n)
        away = (home + r.integers(1, N_TEAMS, n)) % N_TEAMS
        # at least three days before the feed starts: every tick is newer
        date_ms = _T0_MS - r.integers(3, 6 * 365, n) * 86_400_000
        scraped = date_ms + r.integers(2, 48, n) * 3_600_000
        cols = {
            "match_id": ids,
            "competition_id": r.integers(1, 21, n).astype(np.int64),
            "season": np.array(_SEASONS)[r.integers(0, len(_SEASONS), n)],
            "matchday": r.integers(1, 39, n).astype(np.int32),
            "match_date": date_ms,
            "home_team_id": home.astype(np.int64),
            "away_team_id": away.astype(np.int64),
            "venue_id": r.integers(0, 500, n).astype(np.int64),
            "referee_id": r.integers(0, 200, n).astype(np.int64),
            "status": np.where(r.random(n) < 0.97, "finished", "scheduled"),
            "home_score": r.integers(0, 6, n).astype(np.int32),
            "away_score": r.integers(0, 6, n).astype(np.int32),
            "scraped_at": scraped,
        }
        rows = list(zip(*(cols[c].tolist() for c in MATCH_COLS)))
        for row in rows:
            self.current[row[0]] = row
            self._used.add((row[0], row[-1]))
        table = pa.table({
            **{c: cols[c] for c in MATCH_COLS if c not in ("match_date", "scraped_at")},
            "match_date": pa.array(cols["match_date"] * 1000, pa.timestamp("us", tz="UTC")),
            "scraped_at": pa.array(cols["scraped_at"] * 1000, pa.timestamp("us", tz="UTC")),
            "ingested_at": pa.array(cols["scraped_at"] * 1000, pa.timestamp("us", tz="UTC")),
        }).select([*MATCH_COLS, "ingested_at"])
        pq.write_table(table, f"{path}/part-00000-seed.parquet")

    # -- bronze polls ----------------------------------------------------

    def _fresh(self, match_id: int, ts_ms: int) -> tuple:
        cur = self.current.get(match_id)
        r = self.r
        if cur is None:  # a match the target has not seen yet
            home = int(r.integers(0, N_TEAMS))
            away = (home + int(r.integers(1, N_TEAMS))) % N_TEAMS
            cur = (match_id, int(r.integers(1, 21)), _SEASONS[-1], int(r.integers(1, 39)),
                   ts_ms - 3_600_000, home, away, int(r.integers(0, 500)),
                   int(r.integers(0, 200)), "live", 0, 0, 0)
        hs, as_ = cur[10] or 0, cur[11] or 0
        goal = r.random()
        if goal < 0.05:
            hs += 1
        elif goal < 0.10:
            as_ += 1
        status = "finished" if r.random() < 0.02 else "live"
        return (*cur[:9], status, hs, as_, ts_ms)

    def _late(self, match_id: int) -> tuple | None:
        cur = self.current.get(match_id)
        if cur is None:
            return None
        ts = cur[-1] - int(self.r.integers(1_000, 3_600_000))
        if (match_id, ts) in self._used:
            return None
        return (*cur[:10], int(self.r.integers(0, 9)), int(self.r.integers(0, 9)), ts)

    @staticmethod
    def _json(row: tuple) -> str:
        d = dict(zip(MATCH_COLS, row))
        d["match_date"] = _iso_ms(d["match_date"])
        d["scraped_at"] = _iso_ms(d["scraped_at"])
        return json.dumps(d)

    def write_poll(self, path: str) -> str:
        """Write the next poll file into ``path``; returns its file name."""
        r = self.r
        poll_ms = _T0_MS + (self.polls + 1) * POLL_GAP_MS
        data: list[str] = []
        fresh: list[str] = []
        kind = r.random(self.poll_rows)
        picks = r.choice(self.live_ids, self.poll_rows, p=self.live_p)
        rejected = 0
        for i in range(self.poll_rows):
            m = int(picks[i])
            if kind[i] < 0.01 and fresh:  # duplicate of a fresh tick of this poll
                data.append(fresh[int(r.integers(0, len(fresh)))])
                continue
            if kind[i] < 0.02:
                bad = ('{"match_id": %d, "home_score": ' % m, "<html>503 upstream timeout</html>")
                data.append(bad[i % 2])
                rejected += 1
                continue
            row = self._late(m) if kind[i] < 0.03 else None
            if row is None:
                row = self._fresh(m, poll_ms + i)
                self.current[m] = row
                fresh.append(self._json(row))
                data.append(fresh[-1])
            else:
                data.append(self._json(row))
            self._used.add((m, row[-1]))
        name = f"poll-{self.polls:05d}.parquet"
        ingested = np.full(self.poll_rows, (poll_ms + 5_000) * 1000, dtype=np.int64)
        table = pa.table({
            "scraper_name": pa.array(["live_scores"] * self.poll_rows),
            "data": pa.array(data),
            "ingested_at": pa.array(ingested, pa.timestamp("us", tz="UTC")),
        })
        tmp = os.path.join(path, f".{name}.tmp")
        pq.write_table(table, tmp)
        # the file source takes files oldest first: pin the order explicitly
        mtime = (self._mtime0 + self.polls) * 10**9
        os.utime(tmp, ns=(mtime, mtime))
        os.replace(tmp, os.path.join(path, name))
        self.polls += 1
        self.rows_written += self.poll_rows
        self.rejected_written += rejected
        return name

    def expected(self) -> list[tuple]:
        """The target the feed must produce, sorted by match_id."""
        return [self.current[k] for k in sorted(self.current)]
