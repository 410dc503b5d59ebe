"""Seeded input generators for the benchmark.

Everything here is plain NumPy/PyArrow: the inputs depend only on the
seed and the sizes, never on the package under test, so two commits
see byte-identical inputs for the same seed.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Envelope corruption rates of the flight feed: trailing garbage after
# the closing brace (the silver repair trims it) and bodies truncated
# before their only '}' (unrepairable, dropped by the silver null-drop).
GARBAGE_RATE = 1 / 7
TRUNCATED_RATE = 1 / 50

_METRIC_FIELDS = (
    "arr_flights", "arr_del15", "carrier_ct", "weather_ct", "nas_ct",
    "security_ct", "late_aircraft_ct", "arr_cancelled", "arr_diverted",
    "arr_delay", "carrier_delay",
)


def _codes(rng: np.random.Generator, n: int, width: int) -> list[str]:
    letters = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        c = "".join(rng.choice(letters, width))
        if c not in seen:
            seen.add(c)
            out.append(c)
    return out


def flight_envelopes(seed: int, rows: int, carriers: int, airports: int,
                     months: int) -> tuple[pa.Table, dict]:
    """Envelope rows (``body`` binary JSON + broker metadata) of the
    flight-delay feed, and the facts the output checks need.

    Carriers are Zipf-skewed (a few mega-carriers own most rows);
    airports and months are uniform. Every metric is an integer or a
    two-decimal string, as in the source CSV.
    """
    rng = np.random.default_rng(seed)
    car_codes = _codes(rng, carriers, 2)
    apt_codes = _codes(rng, airports, 3)
    weights = 1.0 / np.arange(1, carriers + 1) ** 1.1
    car = rng.choice(carriers, rows, p=weights / weights.sum())
    apt = rng.integers(0, airports, rows)
    mon = rng.integers(0, months, rows)
    year = 2022 + mon // 12
    month = mon % 12 + 1

    flights = rng.integers(0, 600, rows)
    del15 = (flights * rng.random(rows) * 0.4).astype(np.int64)
    share = rng.dirichlet(np.ones(5), rows) * del15[:, None]
    cts = np.round(share, 2)
    cancelled = (flights * rng.random(rows) * 0.05).astype(np.int64)
    diverted = (flights * rng.random(rows) * 0.01).astype(np.int64)
    delay = (del15 * rng.integers(15, 90, rows)).astype(np.int64)
    carrier_delay = (delay * rng.random(rows)).astype(np.int64)
    metrics = {
        "arr_flights": flights, "arr_del15": del15,
        "carrier_ct": cts[:, 0], "weather_ct": cts[:, 1], "nas_ct": cts[:, 2],
        "security_ct": cts[:, 3], "late_aircraft_ct": cts[:, 4],
        "arr_cancelled": cancelled, "arr_diverted": diverted,
        "arr_delay": delay, "carrier_delay": carrier_delay,
    }
    text = {k: [f"{x:.2f}" for x in v.tolist()] for k, v in metrics.items()}

    u = rng.random(rows)
    truncated = u < TRUNCATED_RATE
    garbage = (u >= TRUNCATED_RATE) & (u < TRUNCATED_RATE + GARBAGE_RATE)
    cut = rng.random(rows)
    bodies: list[bytes] = []
    for i in range(rows):
        c = car_codes[car[i]]
        a = apt_codes[apt[i]]
        body = (
            f'{{"year":"{year[i]}","month":"{month[i]}","carrier":"{c}",'
            f'"carrier_name":"{c} Airways","airport":"{a}",'
            f'"airport_name":"{a} International",'
            + ",".join(f'"{k}":"{text[k][i]}"' for k in _METRIC_FIELDS)
            + "}")
        if truncated[i]:
            body = body[:10 + int(cut[i] * (len(body) - 12))]
        elif garbage[i]:
            body += ' ,"_tail":"\x00\x01trunc'
        bodies.append(body.encode("utf-8"))

    base = dt.datetime(2024, 1, 1)
    table = pa.table({
        "body": pa.array(bodies, pa.binary()),
        "partition": pa.array((np.arange(rows) % 32).astype(np.int32)),
        "offset": pa.array(np.arange(rows, dtype=np.int64)),
        "enqueued_at": pa.array(
            [base + dt.timedelta(seconds=int(s)) for s in range(rows)],
            pa.timestamp("us", tz="UTC")),
    })
    keep = ~truncated
    facts = {
        "rows_in": rows,
        "rows_parseable": int(keep.sum()),
        "rows_repaired": int(garbage.sum()),
        "body_bytes": int(sum(len(b) for b in bodies)),
        "partitions": len(set(zip(car[keep].tolist(), year[keep].tolist(),
                                  month[keep].tolist()))),
        "carriers": car_codes,
        "months": sorted(set(zip(year.tolist(), month.tolist()))),
    }
    return table, facts


_WORDS = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the").split()


# The iterative operators run until their graphs converge, so their job
# count follows the input's graph structure (86 vs 101 jobs for two
# independently drawn inputs of the same size). Their content is
# therefore drawn once from this fixed seed; the run seed shuffles the
# row order of every file instead.
OPERATOR_CONTENT_SEED = 42


def operator_tables(seed: int, docs: int, vectors: int, dim: int,
                    labels: int) -> dict[str, pa.Table]:
    """The test-data tables the iterative operator queries read:
    ``documents`` (with ~5% near-duplicates) and ``embeddings`` (unit
    vectors around ``labels`` centroids), rows in a seed-drawn order."""
    rng = np.random.default_rng(OPERATOR_CONTENT_SEED)
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(docs):
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))].split()
            src[int(rng.integers(0, len(src)))] = "dup"
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(rng.choice(words, int(rng.integers(10, 100)))))
    documents = pa.table({
        "doc_id": pa.array(np.arange(docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["en", "zh", "es", "de", "fr"], docs,
                                    p=[0.44, 0.14, 0.14, 0.14, 0.14]).tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    centroids = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, vectors)
    vecs = centroids[label] + rng.normal(scale=0.8, size=(vectors, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(vectors, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })

    order = np.random.default_rng(seed)
    return {name: t.take(order.permutation(t.num_rows))
            for name, t in (("documents", documents), ("embeddings", embeddings))}


def write_tables(tables: dict[str, pa.Table], directory: str) -> None:
    """Write each table as ``<directory>/<name>.parquet`` (the layout
    ``sources.registry.load_table`` reads)."""
    for name, table in tables.items():
        pq.write_table(table, f"{directory}/{name}.parquet")
