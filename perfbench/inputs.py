"""Seeded inputs for every workload.

Pure Python (no Spark import): the load generator and the Spark side
both build the same inputs from the same seed. The program under test
only ever sees what these functions produce.
"""

from __future__ import annotations

import random
import struct

STEP_MS = 15_000  # scrape interval of the base store
HOURS = 4  # base-store span; it straddles a UTC midnight
LIVE_DAY_HOURS = 1  # of which this many fall on the live-edge day
JOBS = 5
INSTANCES = 10
COUNTERS = 8
GAUGES = 7
LE = ("0.1", "0.5", "1", "5", "+Inf")
DAY_MS = 86_400_000

# write_read: every round writes W_SERIES series x W_PER_SERIES samples
# at the live edge, just past the base store's last scrape.
W_INSTANCES = 100
W_SHARDS = 10
W_PER_SERIES = 10

# near_dup: batch sizes and the contract's operator parameters.
ND_DOCS = 500
ND_VECS = 500
ND_DIM = 64
VOCAB = (
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge "
    "data vector join customer the"
).split()


class Shape:
    """The seeded base store: 1,000 series (5 jobs x 10 instances x 20
    series: 8 counters, 7 gauges and one 5-bucket ``le`` histogram
    family), scraped every 15 s over 4 h across a UTC midnight, 0.96 M
    samples. Each series is (labels, kind, a, b); the value at scrape
    index ``k`` is ``a + b*k`` for a counter (kind 0) and
    ``(a + 3k) % 101 - 50`` for a gauge (kind 1)."""

    def __init__(self, seed: int):
        self.seed = seed
        # 3 h before and 1 h after a UTC midnight, on a seed-chosen day
        # of 2026: the live-edge day is young, as on a server at 01:00
        day0 = 1_767_225_600_000 + (seed % 300) * DAY_MS  # 2026-01-01
        self.end_ms = day0 + LIVE_DAY_HOURS * 3_600_000
        self.start_ms = self.end_ms - HOURS * 3_600_000 + STEP_MS
        self.n_steps = HOURS * 3_600_000 // STEP_MS
        self.series = self._series()

    def _series(self) -> list[dict]:
        out = []
        s = self.seed
        for j in range(JOBS):
            for i in range(INSTANCES):
                base = {"instance": f"i{i:02d}", "job": f"j{j}"}
                for m in range(COUNTERS):
                    out.append({
                        "labels": {"__name__": f"bench_counter_{m}", **base},
                        "kind": 0,
                        "a": 1000 * (m + 1),
                        "b": 1 + (i * 3 + j * 5 + m + s) % 7,
                    })
                for m in range(GAUGES):
                    out.append({
                        "labels": {"__name__": f"bench_gauge_{m}", **base},
                        "kind": 1,
                        "a": (i * 13 + j * 29 + m * 7 + s) % 101,
                        "b": 0,
                    })
                mul = 1 + (i + j + s) % 4
                for b, le in enumerate(LE):
                    out.append({
                        "labels": {
                            "__name__": "bench_latency_seconds_bucket",
                            "le": le, **base,
                        },
                        "kind": 0,
                        "a": 0,
                        "b": (b + 1) * mul,
                    })
        return out


# -- write_read -----------------------------------------------------------


def written_value(s: int, t_ms: int) -> float:
    return float((s * 7 + t_ms // STEP_MS) % 1009)


def written_labels(s: int) -> dict:
    return {
        "__name__": "bench_written",
        "instance": f"w{s // W_SHARDS:03d}",
        "shard": str(s % W_SHARDS),
    }


def write_round_times(shape: Shape, rnd: int) -> list[int]:
    first = shape.end_ms + STEP_MS * (1 + rnd * W_PER_SERIES)
    return [first + STEP_MS * j for j in range(W_PER_SERIES)]


def write_round_body(shape: Shape, rnd: int) -> tuple[bytes, int]:
    """Snappy+prompb remote-write body for round ``rnd`` and its
    sample count."""
    times = write_round_times(shape, rnd)
    series = []
    for s in range(W_INSTANCES * W_SHARDS):
        series.append((written_labels(s),
                       [(t, written_value(s, t)) for t in times]))
    return snappy_literal(encode_write(series)), len(series) * len(times)


def read_your_write_request(shape: Shape, rnd: int) -> dict:
    end = write_round_times(shape, rnd)[-1] // 1000
    return {
        "kind": "range",
        "query": f'bench_written{{shard="{rnd % W_SHARDS}"}}',
        "start": end - 3600,
        "end": end,
        "step": STEP_MS // 1000,
    }


def read_your_write_expected(shape: Shape, rnd: int) -> dict:
    """{canonical label tuple: [(t_s, value string)]} for the
    read-your-write query: every sample written so far inside the hour,
    since the query grid sits on the written timestamps."""
    req = read_your_write_request(shape, rnd)
    first = write_round_times(shape, 0)[0]
    shard = rnd % W_SHARDS
    out = {}
    for s in range(shard, W_INSTANCES * W_SHARDS, W_SHARDS):
        pts = []
        t = req["start"] * 1000
        while t <= req["end"] * 1000:
            if t >= first:
                pts.append((t / 1000, written_value(s, t)))
            t += STEP_MS
        out[tuple(sorted(written_labels(s).items()))] = pts
    return out


# -- remote-write encoding (the client side of the wire) --------------------


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _ld(field: int, body: bytes) -> bytes:
    return _varint(field << 3 | 2) + _varint(len(body)) + body


def encode_write(series: list[tuple[dict, list]]) -> bytes:
    """prompb.WriteRequest{timeseries: [{labels, samples}]}."""
    out = bytearray()
    for labels, samples in series:
        ts = bytearray()
        for k in sorted(labels):
            ts += _ld(1, _ld(1, k.encode()) + _ld(2, labels[k].encode()))
        for t, v in samples:
            ts += _ld(2, b"\x09" + struct.pack("<d", v)
                      + b"\x10" + _varint(t & 0xFFFFFFFFFFFFFFFF))
        out += _ld(1, bytes(ts))
    return bytes(out)


def snappy_literal(data: bytes) -> bytes:
    """Snappy block format with literal elements only: valid input for
    any snappy decoder, no compression library needed."""
    out = bytearray(_varint(len(data)))
    for i in range(0, len(data), 65536):
        chunk = data[i:i + 65536]
        n = len(chunk) - 1
        if n < 60:
            out.append(n << 2)
        elif n < 256:
            out += bytes((60 << 2, n))
        else:
            out += bytes((61 << 2,)) + n.to_bytes(2, "little")
        out += chunk
    return bytes(out)


# -- near_dup ---------------------------------------------------------------


def near_dup_docs(seed: int, batch: int) -> list[tuple[int, str]]:
    """Word-salad documents shaped like the contract's ``documents``
    table, one in ten an exact copy and one in ten a one-word edit of
    an earlier document, so every stage of the pipeline has work."""
    rng = random.Random(seed * 7919 + batch)
    base = batch * 100_000
    rows: list[tuple[int, str]] = []
    for i in range(ND_DOCS):
        r = rng.random()
        if rows and r < 0.1:
            rows.append((base + i, rows[rng.randrange(len(rows))][1]))
        elif rows and r < 0.2:
            words = rows[rng.randrange(len(rows))][1].split()
            words[rng.randrange(len(words))] = rng.choice(VOCAB)
            rows.append((base + i, " ".join(words)))
        else:
            n = rng.randint(10, 60)
            rows.append((base + i, " ".join(rng.choice(VOCAB) for _ in range(n))))
    return rows


def near_dup_vectors(seed: int, batch: int) -> list[tuple[int, list[float]]]:
    """64-d vectors shaped like the contract's ``embeddings`` table:
    clustered, with exact copies and small perturbations mixed in.
    Components are rounded to float32 so Spark and DuckDB see the same
    numbers."""
    rng = random.Random(seed * 104_729 + batch)
    f32 = struct.Struct("<f")

    def r32(x: float) -> float:
        return f32.unpack(f32.pack(x))[0]

    centres = [[rng.gauss(0, 0.15) for _ in range(ND_DIM)] for _ in range(12)]
    base = batch * 100_000
    rows: list[tuple[int, list[float]]] = []
    for i in range(ND_VECS):
        r = rng.random()
        if rows and r < 0.1:
            rows.append((base + i, list(rows[rng.randrange(len(rows))][1])))
        else:
            c = centres[rng.randrange(len(centres))]
            rows.append((base + i, [r32(x + rng.gauss(0, 0.1)) for x in c]))
    return rows
