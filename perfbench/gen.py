"""Seeded input generators for the three workloads.

Everything a run feeds the engine comes from here, derived from the
``--seed`` argument alone: the same seed gives byte-identical inputs and
an identical op sequence.
"""

from __future__ import annotations

import hashlib
import math
import random
from dataclasses import dataclass, field

import numpy as np


def log_uniform(rng: random.Random, lo: int, hi: int) -> int:
    return int(math.exp(rng.uniform(math.log(lo), math.log(hi))))


def digest(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()


# -- backup-lifecycle ---------------------------------------------------------


@dataclass
class Generation:
    """One nightly backup: the full object set as it stood that night."""

    index: int
    objects: dict[str, bytes]  # object name -> bytes (keys carry no generation)
    edit_log: list[tuple] = field(default_factory=list)

    def key(self, name: str) -> str:
        return f"g{self.index:02d}/{name}"

    @property
    def logical_bytes(self) -> int:
        return sum(len(v) for v in self.objects.values())


def _edit(rng: random.Random, data: bytes, log: list, name: str) -> bytes:
    """1-3 byte inserts or deletes at random offsets; each is logged as
    ``(name, op, offset, length, inserted bytes)`` so the change can be
    replayed, and the shared-byte fraction recomputed, without looking at
    the engine."""
    buf = bytearray(data)
    for _ in range(rng.randint(1, 3)):
        length = rng.randint(1, 64)
        offset = rng.randrange(len(buf) + 1)
        if rng.random() < 0.5 or len(buf) <= length + 1:
            ins = rng.randbytes(length)
            buf[offset:offset] = ins
            log.append((name, "insert", offset, length, ins))
        else:
            offset = min(offset, len(buf) - length)
            del buf[offset : offset + length]
            log.append((name, "delete", offset, length, b""))
    return bytes(buf)


def log_uniform_sizes(total: int, lo: int, hi: int) -> list[int]:
    """Sizes at evenly spaced quantiles of the log-uniform distribution
    on ``[lo, hi]``, ascending, summing to exactly ``total`` (the largest
    absorbs the rounding). The same for every seed: seeds vary content and
    edits, not the size mix, which sets how the chunker's work spreads
    over the cores."""
    span = math.log(hi / lo)
    n = max(1, round(total * span / (hi - lo)))
    sizes = [int(lo * math.exp((i + 0.5) / n * span)) for i in range(n)]
    sizes[-1] += total - sum(sizes)
    if sizes[-1] < lo:
        raise ValueError(f"cannot spread {total} bytes over [{lo}, {hi}]")
    return sizes


def lifecycle_generations(
    seed: int,
    generations: int,
    gen_bytes: int,
    min_size: int,
    max_size: int,
    edit_frac: float = 0.10,
    churn_frac: float = 0.03,
) -> list[Generation]:
    """``generations`` snapshots of one object set.

    Generation 0 holds ``gen_bytes`` in objects of
    :func:`log_uniform_sizes`. Each later generation edits ``edit_frac``
    of the objects in place and replaces ``churn_frac`` of them with fresh
    objects of the same sizes; payloads are incompressible seeded random
    bytes.
    """
    rng = random.Random(f"lifecycle:{seed}")
    objs = {
        f"obj{i:05d}": rng.randbytes(size)
        for i, size in enumerate(log_uniform_sizes(gen_bytes, min_size, max_size))
    }
    serial = len(objs)
    out = [Generation(0, objs)]
    for g in range(1, generations):
        prev = out[-1].objects
        names = sorted(prev)
        n = len(names)
        n_edit = max(1, round(edit_frac * n))
        n_churn = max(1, round(churn_frac * n))
        picked = rng.sample(names, n_edit + n_churn)
        edited, removed = picked[:n_edit], sorted(picked[n_edit:])
        log: list[tuple] = []
        cur = {k: v for k, v in prev.items() if k not in removed}
        for name in removed:
            log.append((name, "remove", 0, len(prev[name]), b""))
        for name in edited:
            cur[name] = _edit(rng, prev[name], log, name)
        for name in removed:
            fresh = f"obj{serial:05d}"
            serial += 1
            cur[fresh] = rng.randbytes(len(prev[name]))
            log.append((fresh, "add", 0, len(cur[fresh]), b""))
        out.append(Generation(g, cur, log))
    return out


def carried_fraction(prev: Generation, cur: Generation) -> float:
    """Share of ``cur``'s bytes carried over unchanged from ``prev``,
    from the edit log alone: objects the log does not name are copied
    whole; edited ones keep their bytes outside the edited spans."""
    touched: dict[str, list[tuple]] = {}
    for name, op, offset, length, _ in cur.edit_log:
        touched.setdefault(name, []).append((op, offset, length))
    carried = 0
    for name, data in prev.objects.items():
        edits = touched.get(name)
        if edits is None:
            carried += len(data)
        elif edits[0][0] != "remove":
            carried += len(data) - sum(ln for op, _, ln in edits if op == "delete")
    return carried / cur.logical_bytes


def apply_edit_log(prev: Generation, cur: Generation) -> dict[str, bytes]:
    """Replay ``cur.edit_log`` on ``prev`` (fresh objects are taken from
    ``cur``): the generator's own account of how ``cur`` was derived."""
    out = dict(prev.objects)
    for name, op, offset, length, ins in cur.edit_log:
        if op == "remove":
            del out[name]
        elif op == "add":
            out[name] = cur.objects[name]
        elif op == "insert":
            buf = bytearray(out[name])
            buf[offset:offset] = ins
            out[name] = bytes(buf)
        else:
            buf = bytearray(out[name])
            del buf[offset : offset + length]
            out[name] = bytes(buf)
    return out


# -- point verbs --------------------------------------------------------------

#: verb -> ops per block; fixed so every seed runs the same mix
POINT_MIX = {
    "get": 3,
    "get_range": 2,
    "exists": 3,
    "list_objects": 2,
    "write": 2,
    "delete": 2,
}
#: point reads and near-copy writes draw from objects up to this size
POINT_MAX_SIZE = 256 << 10


@dataclass(frozen=True)
class Op:
    verb: str
    key: str = ""
    data: bytes = b""  # write payload
    offset: int = 0  # get_range
    length: int = 0  # get_range
    prefix: str = ""  # list_objects
    index_start: int = 0  # list_objects


def _zipf_pick(rng: random.Random, keys: list[str], s: float = 1.1) -> str:
    """Zipf(s) over ``keys`` in their given (seeded) popularity order."""
    weights = [1.0 / (r + 1) ** s for r in range(len(keys))]
    return rng.choices(keys, weights)[0]


def point_ops(seed: int, stored: dict[str, bytes], n_blocks: int) -> list[Op]:
    """The seeded op sequence against an index holding ``stored``:
    ``n_blocks`` shuffled blocks of :data:`POINT_MIX`. ``get`` and
    ``exists`` keys are Zipf-skewed over a seeded popularity order of the
    stored objects up to :data:`POINT_MAX_SIZE`; a quarter of reads target
    keys this sequence wrote earlier, and a third of ``exists`` probes ask
    for absent keys. Writes are half fresh bytes, half near-copies of
    stored objects; each delete removes the oldest object the sequence
    wrote, so the index size stays level."""
    rng = random.Random(f"point-ops:{seed}")
    live = dict(stored)
    popular = sorted(k for k, v in live.items() if len(v) <= POINT_MAX_SIZE)
    rng.shuffle(popular)
    written: list[str] = []
    prefixes = sorted({k[:4] for k in live} | {k[:10] for k in popular[:4]}) + ["w/", ""]
    ops: list[Op] = []
    serial = 0
    for _ in range(n_blocks):
        shuffled = [v for v, n in POINT_MIX.items() for _ in range(n)]
        rng.shuffle(shuffled)
        # a delete needs an object this sequence wrote: one drawn before
        # any is left waits for the next write
        block: list[str] = []
        avail, waiting = len(written), 0
        for verb in shuffled:
            if verb == "delete" and not avail:
                waiting += 1
                continue
            block.append(verb)
            avail += {"write": 1, "delete": -1}.get(verb, 0)
            if verb == "write" and waiting:
                block.append("delete")
                waiting -= 1
                avail -= 1
        for verb in block:
            if verb == "write":
                key = f"w/{serial:05d}"
                serial += 1
                if rng.random() < 0.5:
                    data = rng.randbytes(log_uniform(rng, 100, 64 << 10))
                else:
                    base = bytearray(live[rng.choice(popular)])
                    at = rng.randrange(len(base) + 1)
                    base[at:at] = rng.randbytes(rng.randint(1, 32))
                    data = bytes(base)
                live[key] = data
                written.append(key)
                ops.append(Op("write", key, data))
            elif verb == "delete":
                key = written.pop(0)
                del live[key]
                ops.append(Op("delete", key))
            elif verb == "list_objects":
                ops.append(
                    Op(
                        "list_objects",
                        prefix=rng.choice(prefixes),
                        index_start=rng.choice([0, 0, rng.randrange(1, 200)]),
                    )
                )
            else:
                if written and rng.random() < 0.25:
                    key = rng.choice(written)
                else:
                    key = _zipf_pick(rng, popular)
                if verb == "exists" and rng.random() < 0.34:
                    key = key + ".absent"
                if verb == "get_range":
                    if rng.random() < 0.5:  # half the ranges hit any object, large ones too
                        key = rng.choice(sorted(live))
                    n = len(live[key])
                    offset = rng.randrange(n)
                    ops.append(Op(verb, key, offset=offset, length=rng.randint(1, 8192)))
                else:
                    ops.append(Op(verb, key))
    return ops


# -- query-mix ----------------------------------------------------------------

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ("en", "es", "fr", "de", "zh")
_LANG_WEIGHTS = (0.40, 0.15, 0.15, 0.15, 0.15)

#: the shape of the sf0.1 ``documents`` and ``embeddings`` tables the
#: registered queries are graded on (README, "query-mix tables")
SF01_DOCS = 5000
SF01_EMBEDDINGS = 2000
SF01_DIM = 64


def query_tables(seed: int, n_docs: int = SF01_DOCS, n_emb: int = SF01_EMBEDDINGS,
                 dim: int = SF01_DIM):
    """``documents`` and ``embeddings`` tables in the schema and shape of
    the sf0.1 tables: texts of 10-100 words drawn uniformly from a
    31-word vocabulary, 5% of them near-duplicates (a copy of another
    document's text with " dup" appended), languages 40% ``en`` and 15%
    each of four others, sources ``src0``-``src19`` round-robin; unit-norm
    float32 vectors drawn iid (no cluster structure), labels uniform over
    ten classes. Returns two pyarrow Tables."""
    import pyarrow as pa

    rng = random.Random(f"query-docs:{seed}")
    texts = [" ".join(rng.choices(_WORDS, k=rng.randint(10, 100))) for _ in range(n_docs)]
    originals = list(texts)
    for i in rng.sample(range(n_docs), round(0.05 * n_docs)):
        texts[i] = originals[rng.randrange(n_docs)] + " dup"
    docs = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": rng.choices(_LANGS, _LANG_WEIGHTS, k=n_docs),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    nrng = np.random.default_rng([seed, 1])
    vecs = nrng.normal(size=(n_emb, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(range(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(nrng.integers(0, 10, size=n_emb), pa.int32()),
        }
    )
    return docs, emb
