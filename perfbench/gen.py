"""Seeded transcript generator for the benchmark, with ground truth.

Deliberately independent of ``zentity_spark.generator``: a change to
program code must not be able to change the benchmark's inputs. Every
hash mixes in the seed, so the same seed gives byte-identical inputs and
different seeds give different ones. The program only ever sees the
generated turns; ground truth (conversation → entity) stays here.

Two shapes:

flat
    Entity e owns 1–3 conversations. Every conversation carries the
    entity's email (so pairwise email blocking alone links it), a name
    with a one-character typo on later conversations, a phone in one of
    three punctuation variants, and a signup time jittered by ±6 h.
    About 1 % of conversations carry the junk phone ``000-000-0000``.

chain
    Entity e owns 4–8 conversations forming two segments. Inside a
    segment, neighbours link through one resolver each (a link email, or
    a link phone plus the signup time). Conversation 0 holds the name but
    no signup; conversation 1 holds the signup but no name; the first
    conversation of the second segment holds both (name with a typo).
    No single conversation of the first segment satisfies ``name_signup``
    against it, so the two segments merge only through entity closure
    (or, for seeded requests, through the accumulated hop values). With
    ``hot=True`` two junk emails are spread over 4 % and 2 % of the
    conversations — blocks far above the block-size cap. (A junk phone is
    left out on purpose: phone_signup is a legitimate match for two
    holders of the same junk phone whose signups fall within a day, so
    it would merge unrelated entities in any configuration.)
"""

from __future__ import annotations

import datetime
import hashlib
import os
from dataclasses import dataclass, field

# The entity model the benchmark resolves with: four attributes, three
# resolvers (one per link kind), fuzzy name, normalized phone, 1-day
# signup window.
MODEL = {
    "attributes": {
        "name": {"type": "string", "score": 0.8},
        "email": {"type": "string", "score": 0.95},
        "phone": {"type": "string", "score": 0.9},
        "signup": {"type": "date", "score": 0.7},
    },
    "resolvers": {
        "email": {"attributes": ["email"]},
        "name_signup": {"attributes": ["name", "signup"]},
        "phone_signup": {"attributes": ["phone", "signup"]},
    },
    "matchers": {
        "exact": {"clause": {"term": {"{{ field }}": "{{ value }}"}}, "quality": 0.99},
        "normalized": {"clause": {"match": {"{{ field }}": "{{ value }}"}}, "quality": 0.95},
        "fuzzy_name": {
            "clause": {"match": {"{{ field }}": {"query": "{{ value }}", "fuzziness": 1}}},
            "quality": 0.9,
        },
        "day_window": {
            "clause": {
                "range": {
                    "{{ field }}": {
                        "gte": "{{ value }}||-{{ params.window }}",
                        "lte": "{{ value }}||+{{ params.window }}",
                        "format": "{{ params.format }}",
                    }
                }
            },
            "params": {"format": "yyyy-MM-dd HH:mm:ss", "window": "1d"},
        },
    },
    "indices": {
        "default": {
            "fields": {
                "name": {"attribute": "name", "matcher": "fuzzy_name"},
                "email": {"attribute": "email", "matcher": "exact"},
                "phone": {"attribute": "phone", "matcher": "normalized"},
                "signup": {"attribute": "signup", "matcher": "day_window"},
            }
        }
    },
}

TS_FORMAT = "%Y-%m-%d %H:%M:%S"
HOT_PHONE = "000-000-0000"
HOT_EMAILS = (("support@example.com", 40), ("noreply@example.com", 20))  # per mille
_EPOCH = 1_300_000_000       # signups spread over ten years from here
_SPAN = 86400 * 3650
_JITTER = 21600              # ±6 h, well inside the 1-day window


def _h(seed: int, *parts) -> int:
    """64-bit hash of (seed, parts): the only source of randomness."""
    data = repr((seed,) + parts).encode()
    return int.from_bytes(hashlib.blake2b(data, digest_size=8).digest(), "big")


def _fmt_ts(epoch: int) -> str:
    return datetime.datetime.fromtimestamp(epoch, datetime.timezone.utc).strftime(TS_FORMAT)


def _phone(seed: int, variant: int, *key) -> str:
    d = f"{_h(seed, 'phone', *key) % 10**10:010d}"
    return (f"{d[:3]}-{d[3:6]}-{d[6:]}", f"({d[:3]}) {d[3:6]}-{d[6:]}",
            f"{d[:3]}.{d[3:6]}.{d[6:]}")[variant % 3]


def _typo(name: str, pos: int) -> str:
    """Drop one character (edit distance 1, inside fuzziness 1)."""
    return name[:pos] + name[pos + 1:]


@dataclass
class Conversation:
    conv_id: str
    entity: str
    facts: list[tuple[str, str]]  # (attribute, value) turns, in order
    ts: int


@dataclass
class Corpus:
    """Generated conversations plus the ground truth the program never sees."""

    conversations: list[Conversation] = field(default_factory=list)
    # entity → its conversations in chain order (seeded requests start at
    # one end of a chain)
    entities: dict[str, list[Conversation]] = field(default_factory=dict)

    def add(self, conv: Conversation) -> None:
        self.conversations.append(conv)
        self.entities.setdefault(conv.entity, []).append(conv)

    def truth(self) -> dict[str, str]:
        return {c.conv_id: c.entity for c in self.conversations}


def _conv_id(seed: int, kind: str, e: int, j: int) -> str:
    return f"c{_h(seed, 'conv', kind, e, j):016x}"


def flat_corpus(seed: int, n_entities: int, hot_per_mille: int = 10) -> Corpus:
    corpus = Corpus()
    for e in range(n_entities):
        n_convs = 1 + _h(seed, "nconv", e) % 3
        name = "p" + f"{_h(seed, 'name', e):016x}"[:9]
        email = f"u{_h(seed, 'email', e):012x}@example.com"
        signup = _EPOCH + _h(seed, "signup", e) % _SPAN
        for j in range(n_convs):
            cid = _conv_id(seed, "flat", e, j)
            hot = _h(seed, "hot", e, j) % 1000 < hot_per_mille
            ts = signup + _h(seed, "jitter", e, j) % (2 * _JITTER) - _JITTER
            corpus.add(Conversation(cid, f"f{e}", [
                ("name", name if j == 0 else _typo(name, 2 + _h(seed, "typo", e, j) % 7)),
                ("email", email),
                ("phone", HOT_PHONE if hot else _phone(seed, j, e)),
                ("signup", _fmt_ts(ts)),
            ], ts))
    return corpus


def chain_corpus(seed: int, n_entities: int, hot: bool,
                 shape: tuple[int, int] | None = None) -> Corpus:
    """``shape=(n, split)`` fixes every chain's length and segment split
    (seeded requests use it so every request walks the same number of
    hops); by default lengths vary from 4 to 8."""
    corpus = Corpus()
    for e in range(n_entities):
        n_convs = 4 + _h(seed, "nconv", e) % 5
        split = 2 + _h(seed, "split", e) % (n_convs - 3)  # both segments ≥ 2
        if shape is not None:
            n_convs, split = shape
        name = "p" + f"{_h(seed, 'name', e):016x}"[:9]
        signup = _EPOCH + _h(seed, "signup", e) % _SPAN
        facts: list[list[tuple[str, str]]] = [[] for _ in range(n_convs)]
        has_signup = [False] * n_convs
        for k in range(n_convs - 1):
            if k + 1 == split:
                continue  # segment boundary: only closure crosses it
            # link 0→1 is always an email link: conversation 0 must hold
            # the name without any signup
            if k == 0 or _h(seed, "link", e, k) % 2 == 0:
                link = f"l{_h(seed, 'lmail', e, k):012x}@example.com"
                facts[k].append(("email", link))
                facts[k + 1].append(("email", link))
            else:
                for i in (k, k + 1):
                    facts[i].append(("phone", _phone(seed, i, e, k)))
                    has_signup[i] = True
        facts[0].insert(0, ("name", name))
        has_signup[1] = True
        facts[split].insert(0, ("name", _typo(name, 2 + _h(seed, "typo", e) % 7)))
        has_signup[split] = True
        for i in range(n_convs):
            ts = signup + _h(seed, "jitter", e, i) % (2 * _JITTER) - _JITTER
            if has_signup[i]:
                facts[i].append(("signup", _fmt_ts(ts)))
            for junk, per_mille in HOT_EMAILS if hot else ():
                if _h(seed, "hot", junk, e, i) % 1000 < per_mille:
                    facts[i].append(("email", junk))
            corpus.add(Conversation(_conv_id(seed, "chain", e, i), f"c{e}", facts[i], ts))
    return corpus


def seed_input(seed: int, corpus: Corpus, request: int) -> tuple[str, dict]:
    """A seeded request: (entity, resolve() attributes) for a seed-chosen
    chain entity, seeded at conversation 0 — the end from which the whole
    chain is reachable (a document must satisfy a resolver on its own, so
    a traversal from the far segment cannot cross back into the first).
    The input is conversation 0's link email plus the entity's signup
    time; the date attribute must be in the input for extracted dates
    to take part in later hops. The name is left out so the traversal
    has to walk the chain hop by hop."""
    names = sorted(corpus.entities)
    entity = names[_h(seed, "req", request) % len(names)]
    convs = corpus.entities[entity]
    attrs = {"email": [v for a, v in convs[0].facts if a == "email"]}
    attrs["signup"] = [next(v for a, v in convs[1].facts if a == "signup")]
    return entity, attrs


TURN_FIELDS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")


def turn_rows(convs: list[Conversation], seed: int, filler_turns: int):
    """Transcript rows (input_hint schema) for the given conversations:
    one user turn per fact, then assistant filler turns."""
    for c in convs:
        ts = datetime.datetime.fromtimestamp(c.ts, datetime.timezone.utc)
        for i, (attr, value) in enumerate(c.facts):
            yield (c.conv_id, i, "user", f"{attr}={value}", None, ts)
        for i in range(len(c.facts), len(c.facts) + filler_turns):
            note = f"{_h(seed, 'note', c.conv_id, i):016x}"
            yield (c.conv_id, i, "assistant", f"note: {note}", None, ts)


def write_turns(path: str, convs: list[Conversation], seed: int,
                filler_turns: int) -> int:
    """Write the conversations' turns as one parquet file; returns the
    row count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*turn_rows(convs, seed, filler_turns))) or [()] * len(TURN_FIELDS)
    schema = pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
        ("text", pa.string()), ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ])
    table = pa.Table.from_arrays(
        [pa.array(list(col), type=f.type) for col, f in zip(cols, schema)], schema=schema
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return table.num_rows


def split_batches(seed: int, corpus: Corpus, n_batches: int) -> list[list[Conversation]]:
    """Micro-batches that spread each entity's conversations over
    consecutive batches (conversation j of entity e lands in batch
    (start_e + j) mod n)."""
    batches: list[list[Conversation]] = [[] for _ in range(n_batches)]
    for entity, convs in corpus.entities.items():
        start = _h(seed, "batch", entity) % n_batches
        for j, c in enumerate(convs):
            batches[(start + j) % n_batches].append(c)
    return batches
