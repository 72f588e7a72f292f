"""Seeded inputs: the kg pages and the kg serve op cycle.

Both are pure functions of the seed (and, for the ops, of the graph the
seeded pages build), so two runs with one seed replay identical inputs and a
different seed gives different ones. The program receives only the
generated inputs.
"""

from __future__ import annotations

import hashlib
import json
import random

# One cycle of the kg serve loop. The shape is fixed so that every seed
# weighs the same read kinds and write verbs; the seed picks the arguments.
# Every write drops the engine's vector tables, so the hybrid read after
# create_relation builds its entity and relation vectors after a write.
CYCLE = ["naive", "create_relation", "hybrid", "edit_entity", "graph"]
WRITES = {"create_relation", "edit_entity"}
QUERY_MODES = {"hybrid", "naive"}
_KEYWORDS = [
    "supply", "research", "funding", "logistics", "cloud", "energy",
    "partnership", "acquisition", "licensing", "standards", "talent",
    "infrastructure",
]


def pages_digest(n_pages: int, seed: int) -> str:
    """md5 over the seeded pages, generated the way `gen_pages_df` does
    (row i is a function of (seed, i) only)."""
    from aperag_spark.synth import gen_pages_local

    h = hashlib.md5()
    for row in gen_pages_local(n_pages, seed=seed):
        h.update(row["url"].encode())
        h.update(row["html"] if isinstance(row["html"], bytes) else row["html"].encode())
    return h.hexdigest()


def make_ops(seed: int, entities: list[str], relations: list[tuple[str, str]]) -> list[dict]:
    """The op cycle with seeded arguments that are valid on the graph:
    create_relation joins two existing entities with no edge between them,
    edit_entity rewrites the description of an existing entity."""
    rng = random.Random(f"perfbench-ops:{seed}")
    entities = sorted(entities)
    linked = {tuple(sorted(p)) for p in relations}
    ops = []
    for kind in CYCLE:
        if kind in QUERY_MODES:
            op = {"kind": kind, "text": f"{rng.choice(entities)} {rng.choice(_KEYWORDS)}"}
        elif kind == "graph":
            op = {"kind": kind, "label": rng.choice(entities)}
        elif kind == "create_relation":
            while True:
                a, b = rng.sample(entities, 2)
                if tuple(sorted((a, b))) not in linked:
                    break
            op = {"kind": kind, "src": a, "tgt": b}
        else:
            op = {"kind": kind, "name": rng.choice(entities), "description": f"perfbench {rng.random():.6f}"}
        ops.append(op)
    return ops


def ops_digest(ops: list[dict]) -> str:
    return hashlib.md5(json.dumps(ops, sort_keys=True).encode()).hexdigest()
