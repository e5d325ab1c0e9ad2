"""Independent models the benchmark checks the program against, and the
arithmetic that turns raw observations into metrics.

Nothing here imports the program: avg_info is recomputed from the values
the generator wrote, with the rounding BitcoinEtl documents (decimal sums,
HALF_UP to 2 places, then a cast to double).
"""

import datetime
import math
from decimal import ROUND_HALF_UP, Decimal, localcontext
from typing import Dict, List, Optional, Sequence, Tuple

from gen import WINDOW_S, Payload

CENT = Decimal("0.01")


def _avg2(total: int, n: int) -> float:
    with localcontext() as ctx:
        ctx.prec = 60
        return float((Decimal(total) / Decimal(n)).quantize(CENT, ROUND_HALF_UP))


def _win(ts: int) -> int:
    return ts - ts % WINDOW_S


def _sums(payloads: Sequence[Payload]):
    price: Dict[int, List[int]] = {}
    hashes: Dict[int, List[int]] = {}
    for p in payloads:
        if p.kind == "price":
            s = price.setdefault(_win(p.server_ts), [0, 0])
            s[0] += p.usd
            s[1] += 1
        elif p.kind == "hashrate":
            s = hashes.setdefault(_win(p.server_ts), [0, 0, 0])
            s[0] += p.hashrate
            s[1] += p.difficulty
            s[2] += 1
    return price, hashes


Row = Tuple[int, Optional[float], float, float]


def avg_info(payloads: Sequence[Payload]) -> List[Row]:
    """BitcoinEtl.avgInfo: one row per 5-minute window that has hashrate
    rows; a window without price rows takes the latest earlier price
    window's average (None when there is none). Sorted by window start."""
    price, hashes = _sums(payloads)
    price_avg = {w: _avg2(s, n) for w, (s, n) in price.items()}
    rows, last_price = [], None
    for w in sorted(set(price) | set(hashes)):
        usd = price_avg.get(w, last_price)
        if w in price_avg:
            last_price = price_avg[w]
        if w in hashes:
            h, d, n = hashes[w]
            rows.append((w, usd, _avg2(h, n), _avg2(d, n)))
    return rows


def avg_info_stream(payloads: Sequence[Payload]) -> Dict[int, Row]:
    """BitcoinEtl.avgInfoStream, keyed by window start: every window with
    hashrate rows; no previous-window fallback (None without price rows)."""
    price, hashes = _sums(payloads)
    out = {}
    for w, (h, d, n) in hashes.items():
        usd = _avg2(*price[w]) if w in price else None
        out[w] = (w, usd, _avg2(h, n), _avg2(d, n))
    return out


# ------------------------------------------------------------- statistics

def quantile(values: Sequence[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default), q in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no values")
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: Sequence[float]) -> float:
    return quantile(values, 0.5)


def same_row(a: Sequence, b: Sequence) -> bool:
    """Rows equal value by value; floats to 12 significant digits (the
    engines may sum doubles in another order)."""
    return len(a) == len(b) and all(
        math.isclose(x, y, rel_tol=1e-12, abs_tol=1e-12)
        if isinstance(x, (int, float)) and isinstance(y, (int, float)) else x == y
        for x, y in zip(a, b))


# ---------------------------------------------------- streaming progress

def parse_ts_ms(iso: str) -> float:
    """Epoch ms of a StreamingQueryProgress timestamp ('...T..:..:..sssZ')."""
    d = datetime.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ")
    return d.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000.0


def offset_n(offset) -> int:
    """Files admitted so far, from a PayloadJsonSource offset (None before
    the first batch)."""
    return 0 if offset is None else int(offset["n"])


def batch_ranges(progress: Sequence[dict]) -> List[Tuple[int, int, float, float]]:
    """(first file, end file exclusive, batch start ms, batch end ms) of
    every micro-batch that admitted files, in batch order. A batch ends at
    its progress timestamp plus batchDuration."""
    out = []
    for p in sorted(progress, key=lambda p: p["batchId"]):
        src = p["sources"][0]
        a, b = offset_n(src.get("startOffset")), offset_n(src.get("endOffset"))
        if b > a:
            start = parse_ts_ms(p["timestamp"])
            out.append((a, b, start, start + p["batchDuration"]))
    return out


def admission_errors(ranges: Sequence[Tuple[int, int, float, float]], n: int) -> int:
    """Files in [0, n) not admitted exactly once by the batch ranges."""
    seen = [0] * n
    extra = 0
    for a, b, _, _ in ranges:
        for i in range(a, b):
            if i < n:
                seen[i] += 1
            else:
                extra += 1
    return sum(1 for c in seen if c != 1) + extra


def lags_ms(due: Sequence[float],
            ranges: Sequence[Tuple[int, int, float, float]]) -> List[Optional[float]]:
    """Per file: end of the batch that admitted it minus the time the file
    was due (None if no batch admitted it)."""
    out: List[Optional[float]] = [None] * len(due)
    for a, b, _, end in ranges:
        for i in range(a, min(b, len(out))):
            out[i] = end - due[i]
    return out


def slot_ms(n: int, per_trigger: int, interval_ms: float, first_ms: float) -> List[float]:
    """When each of n replayed files is due under a fixed rate of
    per_trigger files per trigger interval: trigger k, whose slot is
    first_ms + k * interval_ms, is due to admit files
    [k * per_trigger, (k + 1) * per_trigger). A file lands during the
    interval before its slot and cannot be admitted earlier, so measuring
    from the slot leaves out that wait and keeps any backlog."""
    return [first_ms + (i // per_trigger) * interval_ms for i in range(n)]


# ---------------------------------------------------------------- spans

def self_times(spans: Sequence[dict]) -> Dict[str, float]:
    """Self time per layer, in the spans' time unit: each span's duration
    minus the part of its interval that its children cover (children's
    intervals are merged, and clipped to the parent's)."""
    children: Dict[str, List[dict]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append(s)
    out: Dict[str, float] = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        iv = sorted((max(lo, c["start"]), min(hi, c["end"]))
                    for c in children.get(s["id"], []))
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["layer"]] = out.get(s["layer"], 0.0) + (hi - lo) - covered
    return out
