"""Seeded record generators shared by the load generators and the checks.

Every function is a pure function of its arguments, so the workload
process can regenerate exactly what a generator process wrote or served
and compare it with what landed.
"""

from __future__ import annotations

import json
import random
from datetime import datetime, timezone

FIRST = ("Ada", "Alan", "Grace", "Edsger", "Barbara", "Donald", "Leslie", "Frances")
LAST = ("Lovelace", "Turing", "Hopper", "Dijkstra", "Liskov", "Knuth", "Lamport", "Allen")
VENUES = ("VLDB", "SIGMOD", "ICDE", "CIDR", "NSDI", "OSDI")
TOPICS = ("streaming", "joins", "indexes", "compaction", "dedup", "windows", "sketches")


def iso(ts: float) -> str:
    """Epoch seconds -> the wire's ISO-8601 UTC form with microseconds."""
    return datetime.fromtimestamp(ts, timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S.%f+00:00"
    )


def _email(rng: random.Random, author: str) -> str | None:
    """Clear, @-less and missing emails: the three masking branches."""
    r = rng.random()
    if r < 0.5:
        return f"{author.split()[0].lower()}{rng.randrange(1000)}@example.org"
    if r < 0.6:
        return "no-reply"
    return None


def envelope(rng: random.Random, rec_id: str, created: float) -> dict:
    """One canonical envelope (the producer's wire record)."""
    author = f"{rng.choice(FIRST)} {rng.choice(LAST)}"
    stamp = iso(created)
    rec = {
        "id": rec_id,
        "doi": f"10.5555/{rec_id.lower()}",
        "title": f"On {rng.choice(TOPICS)} and {rng.choice(TOPICS)}",
        "publication_year": str(rng.randrange(1990, 2026)),
        "host_venue": rng.choice(VENUES),
        "primary_author": author,
        "email": _email(rng, author),
        "event_ts": stamp,
        "ingest_ts": stamp,
        "source": "openalex",
        "_LOAD_ID": f"{rng.getrandbits(64):016x}",
    }
    return {k: v for k, v in rec.items() if v is not None}


def drop_file_lines(
    seed: int, idx: int, n_lines: int, created: float, bad_share: float
) -> tuple[list[str], list[str], list[str]]:
    """NDJSON lines of drop file ``idx``: (all lines, well-formed ids,
    malformed lines).

    Line ``i`` has id ``G<idx>-<i>``; a malformed line is the record cut in
    half, so it is never parseable JSON.
    """
    rng = random.Random(f"drop-{seed}-{idx}")
    good_ids: list[str] = []
    bad: list[str] = []
    lines: list[str] = []
    for i in range(n_lines):
        rec_id = f"G{idx}-{i}"
        line = json.dumps(envelope(rng, rec_id, created), separators=(",", ":"))
        if rng.random() < bad_share:
            line = line[: len(line) // 2]
            bad.append(line)
        else:
            good_ids.append(rec_id)
        lines.append(line)
    return lines, good_ids, bad


def seed_lines(seed: int, n: int, created: float) -> list[str]:
    """Well-formed envelopes that pre-fill the bronze table (ids ``S<i>``)."""
    rng = random.Random(f"seed-{seed}")
    return [
        json.dumps(envelope(rng, f"S{i}", created), separators=(",", ":"))
        for i in range(n)
    ]


def openalex_work(rng: random.Random, n: int) -> dict:
    """One OpenAlex-shaped work with the FIXTURES.md section 1 edge cases:
    numeric-string years, empty authorships, NULL author, NULL venue,
    missing fields, a rare source email and an ignored extra field."""
    author = f"{rng.choice(FIRST)} {rng.choice(LAST)}"
    work: dict = {
        "id": f"https://openalex.org/W{n}",
        "doi": f"https://doi.org/10.5555/w{n}",
        "title": f"On {rng.choice(TOPICS)} and {rng.choice(TOPICS)}",
        "publication_year": rng.randrange(1990, 2026),
        "host_venue": {"display_name": rng.choice(VENUES)},
        "authorships": [{"author": {"display_name": author}}],
        "extra_field": "ignored",
    }
    r = rng.random()
    if r < 0.10:
        work["publication_year"] = str(work["publication_year"])
    elif r < 0.15:
        work["authorships"] = []
    elif r < 0.20:
        work["authorships"] = [{"author": None}]
    elif r < 0.25:
        work["host_venue"] = None
    elif r < 0.30:
        for key in ("doi", "title", "host_venue", "authorships"):
            work.pop(key)
    if rng.random() < 0.05:
        work["email"] = f"{author.split()[0].lower()}@example.org"
    return work


def rest_page(seed: int, page: int, per_page: int) -> list[dict]:
    """Page ``page`` of the seeded corpus (work ids are globally unique)."""
    rng = random.Random(f"page-{seed}-{page}")
    return [openalex_work(rng, page * per_page + i) for i in range(per_page)]
