"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed: the same seed gives
byte-identical files and identical request streams, a different seed
gives different ones (pinned in tests/test_perfbench_gen.py). This
module never imports the package under test -- the program sees only
the generated inputs.
"""

from __future__ import annotations

import bisect
import datetime
import json
import random

#: Reference event vocabulary and mix (serve > impression > click > purchase).
EVENT_TYPES = ("serve", "impression", "click", "purchase")
TYPE_WEIGHTS = (4, 3, 2, 1)
COUNTRIES = ("US", "JP", "DE", "IN", "BR", "FR")
N_ADVERTISERS = 49
N_PUBLISHERS = 99
CSV_HEADER = ("ts,type,auction_id,advertiser_id,publisher_id,bid_price,"
              "user_id,total_price,country")
DAY_MS = 24 * 3600 * 1000
#: 2024-06-01T00:00:00Z: inside the reference's 2024 calendar.
START_MS = 1717200000000


def _rng(seed: int, stream: str) -> random.Random:
    # One independent generator per stream: changing how many requests
    # a stream draws never shifts the data of another stream.
    return random.Random(f"{seed}:{stream}")


def day_str(i: int) -> str:
    """ISO date of day ``i`` of the generated span (UTC)."""
    d = datetime.date(2024, 6, 1) + datetime.timedelta(days=i)
    return d.isoformat()


def events_domain(n: int, days: int) -> dict:
    """Value ranges the event generator draws from; request streams
    draw their literals from the same ranges."""
    return {"n": n, "days": days, "users": max(1, n // 8),
            "auctions": max(1, n // 6)}


def write_events_csv(path: str, seed: int, n: int, days: int) -> int:
    """Write ``n`` ad events in the reference's raw CSV schema
    (``sources/events_csv.py``) spread over ``days`` days from
    2024-06-01. Empty and ``null`` both mean NULL, as in the reference.
    Returns the number of bytes written."""
    dom = events_domain(n, days)
    rng = _rng(seed, "events")
    cum = [sum(TYPE_WEIGHTS[:i + 1]) for i in range(len(TYPE_WEIGHTS))]
    total_w = cum[-1]
    span = days * DAY_MS
    lines = [CSV_HEADER]
    for _ in range(n):
        ts = START_MS + rng.randrange(span)
        etype = EVENT_TYPES[bisect.bisect_right(cum, rng.random() * total_w)]
        bid = f"{rng.uniform(0.01, 2.0):.4f}" if etype == "impression" else ""
        total = (f"{rng.uniform(1.0, 300.0):.2f}" if etype == "purchase"
                 else "null")
        lines.append(
            f"{ts},{etype},a{rng.randrange(dom['auctions']):07d},"
            f"{rng.randint(1, N_ADVERTISERS)},{rng.randint(1, N_PUBLISHERS)},"
            f"{bid},{rng.randint(1, dom['users'])},{total},"
            f"{COUNTRIES[rng.randrange(len(COUNTRIES))]}")
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def query_key(q: dict) -> str:
    """Canonical JSON of a query: equal keys mean verbatim repeats."""
    return json.dumps(q, sort_keys=True)


#: Draws allowed per wanted request before a stream gives up: a
#: literal space too small to fill the stream fails loudly.
_MAX_DRAWS = 50


def _check_drawn(got: list, n: int) -> None:
    if len(got) < n:
        raise ValueError(f"only {len(got)} distinct requests of {n} drawn")


def _eq(col, val):
    return {"col": col, "op": "eq", "val": val}


def _day_range(rng: random.Random, days: int, max_len: int) -> list[str]:
    d1 = rng.randrange(days)
    d2 = min(days - 1, d1 + rng.randrange(max_len))
    return [day_str(d1), day_str(d2)]


def _reference_shape(rng: random.Random, dom: dict, shape: int,
                     rounded: bool) -> dict:
    """The reference's five benchmark shapes (``__main__.
    REFERENCE_BENCHMARK_QUERIES``) with fresh literals. ``rounded``
    puts ``"round": 4`` on fractional SUM/AVG terms."""
    days = dom["days"]

    def agg(fn, col):
        t = {fn: col}
        if rounded:
            t["round"] = 4
        return t

    if shape == 0:
        return {"select": ["day", agg("SUM", "bid_price")], "from": "events",
                "where": [_eq("type", "impression"),
                          {"col": "day", "op": "between",
                           "val": _day_range(rng, days, days)}],
                "group_by": ["day"]}
    if shape == 1:
        return {"select": ["publisher_id", agg("SUM", "bid_price")],
                "from": "events",
                "where": [_eq("type", "impression"),
                          _eq("country", rng.choice(COUNTRIES)),
                          {"col": "day", "op": "between",
                           "val": _day_range(rng, days, 4)}],
                "group_by": ["publisher_id"]}
    if shape == 2:
        return {"select": ["country", agg("AVG", "total_price")],
                "from": "events",
                "where": [_eq("type", "purchase"),
                          {"col": "country", "op": "in",
                           "val": sorted(rng.sample(COUNTRIES,
                                                    rng.randint(2, 5)))}],
                "group_by": ["country"],
                "order_by": [{"col": "AVG(total_price)",
                              "dir": rng.choice(("asc", "desc"))}]}
    if shape == 3:
        a = rng.randint(1, N_ADVERTISERS)
        b = min(N_ADVERTISERS, a + rng.randrange(20))
        return {"select": ["advertiser_id", "type", {"COUNT": "*"}],
                "from": "events",
                "where": [{"col": "advertiser_id", "op": "between",
                           "val": [a, b]}],
                "group_by": ["advertiser_id", "type"],
                "order_by": [{"col": "COUNT(*)", "dir": "desc"}]}
    day = day_str(rng.randrange(days))
    h = rng.randrange(24)
    return {"select": ["minute", agg("SUM", "bid_price")], "from": "events",
            "where": [_eq("type", "impression"), _eq("day", day),
                      {"col": "minute", "op": "between",
                       "val": [f"{day} {h:02d}:00",
                               f"{day} {min(23, h + rng.randrange(12)):02d}:59"]}],
            "group_by": ["minute"],
            "order_by": [{"col": "minute", "dir": "asc"}]}


def _nongrain_scan(rng: random.Random, dom: dict) -> dict:
    """Filters on columns no rollup keeps (user_id, advertiser x
    publisher): the router must refuse and the compiler scans."""
    pick = rng.randrange(3)
    if pick == 0:
        u = rng.randint(1, dom["users"])
        return {"select": ["day", {"SUM": "bid_price", "round": 4}],
                "from": "events",
                "where": [_eq("type", "impression"),
                          {"col": "user_id", "op": "between",
                           "val": [u, u + rng.randrange(50, 500)]}],
                "group_by": ["day"]}
    if pick == 1:
        return {"select": ["type", {"COUNT": "*"}], "from": "events",
                "where": [_eq("publisher_id", rng.randint(1, N_PUBLISHERS)),
                          _eq("advertiser_id",
                              rng.randint(1, N_ADVERTISERS))],
                "group_by": ["type"]}
    return {"select": ["country", {"MAX": "total_price"}, {"COUNT": "*"}],
            "from": "events",
            "where": [_eq("type", "purchase"),
                      {"col": "user_id", "op": "lt",
                       "val": rng.randint(1, dom["users"])}],
            "group_by": ["country"]}


#: One cycle of the ad-hoc stream. Fixed slot order keeps the class mix
#: (and so the percentiles) the same in every run; only literals vary.
#: 6/10 rounded reference shapes, 1/10 unrounded (router declines),
#: 1/10 non-grain scans and 2/10 verbatim dashboard repeats.
ADHOC_CYCLE = ("ref", "ref", "scan", "ref", "repeat",
               "unrounded", "ref", "repeat", "ref", "ref")
DASHBOARD_POOL = 12  # well under plans/cache.py's 256 entries


def adhoc_stream(seed: int, dom: dict, n: int) -> dict:
    """Warm-up and timed requests for ``adhoc_dsl``: lists of
    ``{"kind", "q"}``. The warm-up runs each reference shape once and
    loads the dashboard pool, so every timed repeat is a cache hit and
    the hit share (2 in 10) does not depend on how many requests a run
    completes. No other timed request repeats an earlier one."""
    rng = _rng(seed, "adhoc")
    warmup = [{"kind": "ref", "q": _reference_shape(rng, dom, s, True)}
              for s in range(5)]
    seen = {query_key(w["q"]) for w in warmup}
    pool = []
    for _ in range(_MAX_DRAWS * DASHBOARD_POOL):
        if len(pool) == DASHBOARD_POOL:
            break
        q = _reference_shape(rng, dom, rng.randrange(5), True)
        if query_key(q) not in seen:
            seen.add(query_key(q))
            pool.append(q)
    _check_drawn(pool, DASHBOARD_POOL)
    warmup += [{"kind": "repeat", "q": q} for q in pool]
    timed, shape = [], 0
    for _ in range(_MAX_DRAWS * n):
        if len(timed) == n:
            break
        kind = ADHOC_CYCLE[len(timed) % len(ADHOC_CYCLE)]
        if kind == "repeat":
            q = rng.choice(pool)
        elif kind == "scan":
            q = _nongrain_scan(rng, dom)
        elif kind == "unrounded":
            q = _reference_shape(rng, dom, rng.choice((0, 1, 2, 4)), False)
        else:
            q = _reference_shape(rng, dom, shape % 5, True)
            shape += 1
        if kind != "repeat":
            if query_key(q) in seen:
                continue
            seen.add(query_key(q))
        timed.append({"kind": kind, "q": q})
    _check_drawn(timed, n)
    return {"warmup": warmup, "timed": timed}


# ---------------------------------------------------------------- corpus

VOCAB = 5000
ZIPF_S = 1.0


class _Zipf:
    def __init__(self, rng: random.Random):
        self.rng = rng
        acc, self.cum = 0.0, []
        for r in range(VOCAB):
            acc += 1.0 / (r + 1) ** ZIPF_S
            self.cum.append(acc)

    def words(self, k: int) -> list[str]:
        top = self.cum[-1]
        return [f"w{bisect.bisect_right(self.cum, self.rng.random() * top):04d}"
                for _ in range(k)]


def corpus_docs(seed: int, n_docs: int) -> list[tuple[int, str]]:
    """Base corpus: ``n_docs`` documents of 40-100 Zipf-distributed
    words, ids ``0..n_docs-1``."""
    rng = _rng(seed, "corpus")
    z = _Zipf(rng)
    return [(i, " ".join(z.words(rng.randint(40, 100))))
            for i in range(n_docs)]


def corpus_rounds(seed: int, base: list[tuple[int, str]], n_rounds: int,
                  n_new: int, n_near: int, n_recrawl: int,
                  n_marked: int = 5) -> list[dict]:
    """Daily shards for ``corpus_ingest``. Each round holds ``n_new``
    fresh documents (``n_marked`` of them carry the round's marker
    word), ``n_near`` near-duplicate edits and ``n_recrawl`` verbatim
    re-crawls of base documents. Edit and re-crawl sources are drawn
    without replacement from the base corpus, so every injected
    duplicate forms its own two-document cluster. The round's BM25
    probe terms are its marker plus two mid-frequency words."""
    rng = _rng(seed, "rounds")
    z = _Zipf(rng)
    sources = rng.sample(range(len(base)), n_rounds * (n_near + n_recrawl))
    next_id = len(base)
    rounds = []
    for r in range(n_rounds):
        marker = f"fresh{r:03d}"
        docs, marked = [], []
        for j in range(n_new):
            words = z.words(rng.randint(40, 100))
            if j < n_marked:
                words[rng.randrange(len(words))] = marker
                marked.append(next_id)
            docs.append((next_id, " ".join(words)))
            next_id += 1
        take = sources[r * (n_near + n_recrawl):(r + 1) * (n_near + n_recrawl)]
        for s in take[:n_near]:
            words = base[s][1].split()
            # Two substitutions by a word outside the vocabulary: the
            # edit can never equal its source (3-gram Jaccard >= 0.7).
            for _ in range(2):
                words[rng.randrange(len(words))] = f"edit{r:03d}"
            docs.append((next_id, " ".join(words)))
            next_id += 1
        for s in take[n_near:]:
            docs.append((next_id, base[s][1]))
            next_id += 1
        terms = [marker] + [f"w{rng.randint(50, 400):04d}" for _ in range(2)]
        rounds.append({"docs": docs, "marked": marked, "near": n_near,
                       "recrawl": n_recrawl, "terms": terms})
    return rounds


def write_docs_jsonl(path: str, docs: list[tuple[int, str]]) -> int:
    """One ``{"doc_id", "text"}`` object per line; returns bytes written."""
    data = "".join(json.dumps({"doc_id": i, "text": t}) + "\n"
                   for i, t in docs).encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)
