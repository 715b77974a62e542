"""Seeded input generators for the lookup-engine benchmark.

Everything a workload feeds the engine comes from here, and so does every
expected value its output checks compare against.  The same seed always
gives the same inputs.  The module imports neither PySpark nor the engine,
so the endpoint process and the tests can use it on their own.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

#: declared dimension schema: 7 typed columns
DIM_SCHEMA = (
    "id BIGINT, name STRING, email STRING, city STRING, "
    "score DOUBLE, updated_at TIMESTAMP, active BOOLEAN"
)
#: JSON pointer of the record array inside the payload
XPATH = "/data"

_CITIES = (
    "Amsterdam", "Berlin", "Chennai", "Denver", "Edinburgh", "Fukuoka",
    "Geneva", "Hanoi", "Istanbul", "Johannesburg", "Kyiv", "Lima",
)
_DOMAINS = ("example.com", "example.org", "example.net", "mail.example")
#: multiplier of the probe-key permutation; a prime, so coprime to every
#: key range 2 * rows unless rows is a multiple of it
PROBE_MULT = 7919


def score(key: int, generation: int) -> float:
    """The ``score`` of ``key`` in ``generation``; exact in a double, so a
    joined row tells which generation it came from."""
    return key * 0.5 + generation


def dimension_records(seed: int, rows: int, generation: int = 0) -> list[dict]:
    """``rows`` records with keys ``0 .. rows-1`` in a seeded order.

    Only ``score`` and ``updated_at`` depend on ``generation``; the other
    columns depend on the seed alone.
    """
    rng = random.Random(f"dim:{seed}")
    keys = list(range(rows))
    rng.shuffle(keys)
    gen_rng = random.Random(f"gen:{seed}:{generation}")
    records = []
    for key in keys:
        records.append({
            "id": key,
            "name": f"user-{key}-{rng.getrandbits(40):010x}",
            "email": f"u{key}.{rng.getrandbits(24):06x}@{rng.choice(_DOMAINS)}",
            "city": rng.choice(_CITIES),
            "score": score(key, generation),
            "updated_at": (
                f"2024-{gen_rng.randrange(1, 13):02d}-{gen_rng.randrange(1, 29):02d} "
                f"{gen_rng.randrange(24):02d}:{gen_rng.randrange(60):02d}:"
                f"{gen_rng.randrange(60):02d}.{gen_rng.randrange(1000):03d}"
            ),
            "active": rng.random() < 0.5,
        })
    return records


@dataclass(frozen=True)
class DimensionSummary:
    """What a correct snapshot of one generation must add up to."""

    rows: int
    key_sum: int
    active: int


def summarize(records: list[dict]) -> DimensionSummary:
    return DimensionSummary(
        rows=len(records),
        key_sum=sum(r["id"] for r in records),
        active=sum(1 for r in records if r["active"]),
    )


def probe_offset(seed: int) -> int:
    return random.Random(f"probe:{seed}").randrange(1 << 20)


def probe_key(index: int, dim_rows: int, offset: int) -> int:
    """Key of probe row ``index``: a permutation of ``[0, 2 * dim_rows)``
    repeated, so keys are uniform and exactly half of them hit."""
    return (index * PROBE_MULT + offset) % (2 * dim_rows)


def probe_hits(probe_rows: int, dim_rows: int, offset: int) -> int:
    """How many of the first ``probe_rows`` probe keys lie in ``[0, dim_rows)``."""
    period = 2 * dim_rows
    full, rest = divmod(probe_rows, period)
    return full * dim_rows + sum(
        1 for i in range(rest) if probe_key(i, dim_rows, offset) < dim_rows
    )
