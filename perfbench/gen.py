"""Seeded payload generator for the btc_* workloads.

Produces a landing zone in the two payload shapes PayloadJsonSource reads
(`price_data` and `hash_rate_data`), one JSON document per file, with file
names that increase monotonically in landing order (the source's offset
contract). The same seed always gives the same payloads.

The cadence follows the reference's DAG constants (SURVEY.md section 6):
a price fetch every 60 s and a hashrate fetch every 30 s, so payloads come
one price to two hashrate, a mean 20 s of event time apart, about 5 price
and 10 hashrate rows per 5-minute window.

The traffic varies along the dimensions the pipeline depends on:
  - a small share of malformed payloads, which the source turns into
    kind='error' rows (truncated JSON, or a JSON body with neither shape);
  - 5-minute windows with no price payload, which exercise avgInfo's
    previous-window price fallback, and a few with no hashrate payload,
    which avgInfo drops;
  - event-time jitter: spider_ts wanders around the nominal clock and the
    price `time` trails spider_ts, so rows cross window boundaries out of
    landing order.
"""

import json
import os
import random
from dataclasses import dataclass
from typing import List, Optional

WINDOW_S = 300
STEP_S = 20           # mean event-time spacing: 3 fetches a minute (SURVEY.md section 6)
PRICE_SHARE = 1 / 3   # price every 60 s, hashrate every 30 s (SURVEY.md section 6)
# Chosen, not measured (the reference publishes no failure or gap rates):
# small enough that most windows are complete, large enough that every
# zone the benchmark generates holds each case many times.
ERROR_SHARE = 0.02
NO_PRICE_WINDOW_SHARE = 0.06
NO_HASH_WINDOW_SHARE = 0.03
SPIDER_JITTER_S = 20  # chosen: up to one step early or late
PRICE_LAG_MAX_S = 30  # chosen: price `time` trails spider_ts by up to half a price period


@dataclass(frozen=True)
class Payload:
    name: str
    text: str
    kind: str                 # 'price', 'hashrate' or 'error'
    spider_ts: Optional[int]
    server_ts: Optional[int]  # price: price_data.time; hashrate: spider_ts
    usd: Optional[int] = None
    hashrate: Optional[int] = None
    difficulty: Optional[int] = None


def generate(seed: int, n: int) -> List[Payload]:
    """The first `n` payloads of the stream for `seed`, in landing order."""
    rng = random.Random(seed)
    # epoch-aligned start, so window boundaries fall on multiples of 300 s
    t0 = 1_600_000_200 - 1_600_000_200 % WINDOW_S + rng.randrange(1000) * WINDOW_S
    usd = rng.randrange(20_000, 60_000)
    window_kind = {}

    def kind_of(ts):
        # decided when first needed, so the draw order is fixed by the seed
        w = ts - ts % WINDOW_S
        if w not in window_kind:
            r = rng.random()
            window_kind[w] = ("no_price" if r < NO_PRICE_WINDOW_SHARE else
                              "no_hash" if r < NO_PRICE_WINDOW_SHARE + NO_HASH_WINDOW_SHARE
                              else "both")
        return window_kind[w]

    out = []
    for i in range(n):
        spider = t0 + i * STEP_S + rng.randint(-SPIDER_JITTER_S, SPIDER_JITTER_S)
        name = f"p{i:09d}.json"
        if rng.random() < ERROR_SHARE:
            if rng.random() < 0.5:
                text = f'{{"spider_ts": {spider}, "price_data": {{"USD": '
                out.append(Payload(name, text, "error", None, None))
            else:
                text = json.dumps({"spider_ts": spider, "status": "rate_limited"})
                out.append(Payload(name, text, "error", spider, None))
            continue
        kind = "price" if rng.random() < PRICE_SHARE else "hashrate"
        if kind == "hashrate" and kind_of(spider) == "no_hash":
            kind = "price"
        server = spider - rng.randint(0, PRICE_LAG_MAX_S)
        if kind == "price" and kind_of(server) == "no_price":
            kind = "hashrate"
        if kind == "price":
            usd = max(1_000, usd + rng.randint(-60, 60))
            text = json.dumps({"spider_ts": spider,
                               "price_data": {"USD": usd, "time": server}})
            out.append(Payload(name, text, "price", spider, server, usd=usd))
        else:
            h = rng.randrange(150 * 10**15, 250 * 10**15)
            d = rng.randrange(20 * 10**12, 30 * 10**12)
            text = json.dumps({"spider_ts": spider, "hash_rate_data": {
                "currentHashrate": h, "currentDifficulty": d}})
            out.append(Payload(name, text, "hashrate", spider, spider,
                               hashrate=h, difficulty=d))
    return out


def write_zone(payloads: List[Payload], directory: str) -> None:
    os.makedirs(directory, exist_ok=True)
    for p in payloads:
        with open(os.path.join(directory, p.name), "w") as f:
            f.write(p.text)
