"""battery workload: the 41 `QUERIES` in declared order over the sf0.01 test
tables vendored in `data/sf0.01`, each result collected and checked against
the DuckDB oracle hashes in `golden_sf0.01.json`.

There is no warm-up: the first pass runs in a fresh JVM, the way a batch
job meets the battery. Every pass reads a fresh copy of the tables. The session caches
(`_KG_CHUNKS_CACHE`, `_SIMHASH_FP_CACHE`, ...) and the corpus stage store
are keyed by the table directory, so each pass runs with cold data caches;
a pass in which a cache-filling query launched no Spark job fails the run.
"""

from __future__ import annotations

import os
import shutil
import time

import golden

# Queries that fill a per-session cache on first use.
CACHE_FILLERS = ["kg_chunking", "kg_relations", "dedup_simhash", "dedup_minhash_sig", "fulltext_bm25"]


def setup(run) -> dict:
    """Load the golden hashes and copy the tables for the first pass."""
    t0 = time.perf_counter()
    state = {"golden": golden.load(), "failures": [], "passes": 0}
    state["data"] = _fresh_copy(run, 0)
    run.setup["inputs_s"] = time.perf_counter() - t0
    return state


def _fresh_copy(run, i: int) -> str:
    data = os.path.join(run.work, f"sf0.01_pass{i}")
    shutil.copytree(golden.DATA_DIR, data)
    return data


def _pass(run, state) -> dict:
    """One pass of the 41 queries over a fresh copy of the tables, outputs
    checked after the pass; failures go to state["failures"]."""
    from aperag_spark.queries import ORACLES, QUERIES

    spark, tracer, expected = run.spark, run.tracer, state["golden"]
    failures = state["failures"]
    i = state["passes"]
    state["passes"] += 1
    data = state.pop("data", None) or _fresh_copy(run, i)
    p0 = time.perf_counter()
    op_walls, groups, results = [], {}, {}
    for name, fn in QUERIES.items():
        t_op = time.perf_counter()
        try:
            with tracer.span(f"q.{name}") as rec:
                rec["build"] = name.startswith("kg_")
                results[name] = fn(spark, data).toPandas()
            wall = rec["wall_s"]
            groups[name] = rec["group"]
        except Exception as e:  # any program error is a failed op
            failures.append(f"pass {i} {name}: {type(e).__name__}: {e}")
            wall = time.perf_counter() - t_op
        op_walls.append((name, wall))
    pass_s = time.perf_counter() - p0
    for name in CACHE_FILLERS:
        if name in groups and not tracer.job_ids(groups[name]):
            failures.append(f"pass {i}: {name} launched no Spark job (answered from a cache)")
    for name, pdf in results.items():
        g = expected.get(name)
        if g is None or g["sql_md5"] != golden.sql_md5(ORACLES[name]):
            failures.append(f"{name}: no golden hash for the current oracle SQL")
        elif golden.row_hash(pdf) != g["hash"]:
            failures.append(
                f"pass {i} {name}: {len(pdf)} rows, hash differs from the DuckDB oracle ({g['rows']} rows)"
            )
    shutil.rmtree(data, ignore_errors=True)
    build_s = sum(w for name, w in op_walls if name.startswith("kg_"))
    return {"pass_s": pass_s, "build_s": build_s, "ops": op_walls}


def measure(run, state) -> dict:
    passes = []
    begin = time.perf_counter()
    while not passes or time.perf_counter() - begin < run.seconds:
        passes.append(_pass(run, state))
    return {
        "attempted": sum(len(p["ops"]) for p in passes),
        "failures": state["failures"],
        "passes": passes,
        "detail": {
            "data": "perfbench/data/sf0.01 (fixed test tables; the seed does not apply)",
            "oracle_check": "every query of every pass, dedup_ngram_jaccard included, against "
            "the DuckDB oracle hashes of the same sf0.01 tables (golden_sf0.01.json)",
        },
    }
