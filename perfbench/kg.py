"""kg workload: index seeded pages with `KGEngine.insert`, then serve a
seeded op cycle (reads and writes) from a fresh `KGEngine` on the result.

One pass = one insert into a fresh directory (the unfused path, all eight
checkpointed stages) followed by the 5-op cycle of `inputs.CYCLE`. The
first pass is the first insert in a fresh JVM: the run has no warm-up
insert (see README.md, "Sizes"). The traced run adds, after the pass, the
same build done operator by operator, each output written with
`sources.io.write_table` and re-read by the next call, and one more insert,
so that both are warm and the insert splits into the layers of
`plans/pipeline.py`.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

from inputs import QUERY_MODES, WRITES, make_ops, ops_digest, pages_digest

N_PAGES = 1000


def _rows_digest(rows) -> str:
    return hashlib.md5("\n".join(sorted(str(tuple(r)) for r in rows)).encode()).hexdigest()


def _do_op(eng, op: dict) -> str:
    """Run one op through the public KGEngine surface; return a digest of
    its output (writes return nothing)."""
    kind = op["kind"]
    if kind in QUERY_MODES:
        return hashlib.md5(eng.query_prompt(op["text"], mode=kind).encode()).hexdigest()
    if kind == "graph":
        return _rows_digest(eng.get_knowledge_graph(op["label"]).collect())
    if kind == "create_relation":
        eng.create_relation(
            op["src"], op["tgt"], {"description": "perfbench relation", "keywords": "perfbench"}
        )
    else:
        eng.edit_entity(op["name"], {"description": op["description"]})
    return "write"


def _stage_rows(out_dir: str) -> dict:
    from aperag_spark.plans.pipeline import pipeline_metrics

    return {k: m["rows"] for k, m in pipeline_metrics(out_dir).items()}


def _check_parity(spark, out_dir: str, seed: int) -> dict:
    """Triple P/R of the built `relations` stage against the independent
    reference-semantics port (tests/reference_port.py) on the same pages."""
    from aperag_spark.plans.pipeline import _read_stage
    from aperag_spark.synth import gen_pages_local
    from tests.reference_port import golden_triples, run_reference_pipeline

    rels = _read_stage(spark, out_dir, "relations")
    ours = {tuple(r) for r in rels.select("src_id", "keywords", "tgt_id").collect()}
    gold = golden_triples(run_reference_pipeline(gen_pages_local(N_PAGES, seed=seed)))
    tp = len(ours & gold)
    return {
        "triples_spark": len(ours),
        "triples_reference": len(gold),
        "precision": tp / len(ours) if ours else 0.0,
        "recall": tp / len(gold) if gold else 0.0,
    }


def _derive_ops(spark, out_dir: str, seed: int) -> list[dict]:
    from aperag_spark.api import KGEngine

    eng = KGEngine(spark, out_dir)
    entities = [r[0] for r in eng.entities.select("entity_id").collect()]
    relations = [tuple(r) for r in eng.relations.select("src_id", "tgt_id").collect()]
    return make_ops(seed, entities, relations)


def _traced_build(run, pages) -> dict:
    """The insert's operators in stage-graph order, one span each, every
    output materialised and re-read by the next call; then one more insert.
    Returns the split of that insert's wall."""
    from aperag_spark.api import KGEngine
    from aperag_spark.operators.chunking import chunk_texts, extract_texts
    from aperag_spark.operators.extraction import extract_mentions, split_mentions
    from aperag_spark.operators.linking import build_alias_map, canonicalize
    from aperag_spark.operators.merge import (
        finalize_relations,
        merge_entities,
        merge_relations,
        stub_missing_endpoints,
    )
    from aperag_spark.sources.io import read_table, write_table

    base = os.path.join(run.work, "ops_build")

    def mat(name, df):
        path = os.path.join(base, name)
        write_table(df, path)
        return read_table(run.spark, path)

    t = run.tracer
    with t.span("stage.texts"):
        texts = mat("texts", extract_texts(pages))
    with t.span("stage.chunks"):
        chunks = mat("chunks", chunk_texts(texts))
    with t.span("stage.mentions"):
        mentions = mat("mentions", extract_mentions(chunks))
    raw_entities, raw_relations = split_mentions(mentions)
    with t.span("stage.relations"):
        relations_full = mat("relations_full", merge_relations(raw_relations))
        mat("relations", finalize_relations(relations_full))
    with t.span("stage.entities"):
        entities = mat(
            "entities", stub_missing_endpoints(merge_entities(raw_entities), relations_full)
        )
    with t.span("stage.alias_map"):
        alias_map = mat("alias_map", build_alias_map(entities))
    with t.span("stage.canonical"):
        ents_c, rels_c = canonicalize(entities, relations_full, alias_map)
        mat("entities_canonical", ents_c)
        mat("relations_canonical", rels_c)
    shutil.rmtree(base, ignore_errors=True)
    stages_s = sum(s["wall_s"] for s in t.spans if s["name"].startswith("stage."))

    out_dir = os.path.join(run.work, "kg_traced")
    with t.span("stage.insert_warm") as s_insert:
        KGEngine(run.spark, out_dir).insert(pages)
    shutil.rmtree(out_dir, ignore_errors=True)
    return {
        "warm_insert_s": s_insert["wall_s"],
        # re-reads, per-partition count jobs and manifests
        "stage_runner_s": s_insert["wall_s"] - stages_s,
    }


def setup(run) -> dict:
    """Materialise the seeded pages (gen_pages_df is lazy; without this
    step page generation would run inside the `texts` stage)."""
    from aperag_spark.synth import gen_pages_df

    spark = run.spark
    t0 = time.perf_counter()
    pages_path = os.path.join(run.work, "pages")
    gen_pages_df(spark, N_PAGES, seed=run.seed, partitions=run.cores * 2).write.parquet(pages_path)
    run.setup["inputs_s"] = time.perf_counter() - t0
    return {"pages": spark.read.parquet(pages_path)}


def _op_name(kind: str, after_write: bool) -> str:
    if kind in WRITES:
        return f"write.{kind}"
    return f"{'read_after_write' if after_write else 'read'}.{kind}"


def measure(run, state) -> dict:
    from aperag_spark.api import KGEngine

    spark, tracer = run.spark, run.tracer
    failures: list[str] = []
    passes: list[dict] = []
    checks: dict = {}
    begin = time.perf_counter()
    while not passes or time.perf_counter() - begin < run.seconds:
        out_dir = os.path.join(run.work, f"kg_{len(passes)}")
        with tracer.span("insert") as rec:
            rec["build"] = True
            KGEngine(spark, out_dir).insert(state["pages"])
        insert_s = rec["wall_s"]
        rows = _stage_rows(out_dir)
        if not passes:
            # untimed: output checks and the op cycle's arguments
            t0 = time.perf_counter()
            checks["stage_rows"] = rows
            checks["triple_parity"] = parity = _check_parity(spark, out_dir, run.seed)
            if parity["precision"] < 0.95 or parity["recall"] < 0.95:
                failures.append(f"triple parity {parity}")
            ops = _derive_ops(spark, out_dir, run.seed)
            checks["check_s"] = time.perf_counter() - t0
        elif rows != checks["stage_rows"]:
            failures.append(f"pass {len(passes)}: stage rows {rows} != {checks['stage_rows']}")

        op_walls, digests = [("insert", insert_s)], []
        eng = KGEngine(spark, out_dir)
        after_write = False
        for i, op in enumerate(ops):
            name = _op_name(op["kind"], after_write)
            t_op = time.perf_counter()
            try:
                with tracer.span(name) as rec:
                    digests.append(_do_op(eng, op))
                wall = rec["wall_s"]
            except Exception as e:  # any program error is a failed op
                failures.append(f"op {i} {op['kind']}: {type(e).__name__}: {e}")
                digests.append("error")
                wall = time.perf_counter() - t_op
            op_walls.append((name, wall))
            after_write = op["kind"] in WRITES
        passes.append({
            "pass_s": sum(w for _n, w in op_walls),
            "build_s": insert_s,
            "ops": op_walls,
            "digests": digests,
            "triples": rows.get("relations_canonical"),
        })
        shutil.rmtree(out_dir, ignore_errors=True)
    failures += _check_repeat(run, [p["digests"] for p in passes], ops, checks["stage_rows"])

    detail = {
        "pages": N_PAGES,
        "pages_digest": pages_digest(N_PAGES, run.seed),
        "ops": [op["kind"] for op in ops],
        "ops_digest": ops_digest(ops),
        **checks,
        "triples_per_s": [p["triples"] / p["ops"][0][1] for p in passes],
        "serve": _serve_summary(passes),
    }
    if run.trace:
        detail.update(_traced_build(run, state["pages"]))
        detail["insert_spark_jobs"] = next(s["jobs"] for s in tracer.spans if s["name"] == "insert")
    return {
        "attempted": sum(len(p["ops"]) for p in passes) + 1,  # + the parity check
        "failures": failures,
        "passes": passes,
        "detail": detail,
    }


def _serve_summary(passes: list[dict]) -> dict:
    """Medians over the run's serve ops by class, and closed-loop ops per
    minute (one client)."""
    import statistics

    serve = [(name.split(".")[0], wall) for p in passes for name, wall in p["ops"][1:]]
    out = {
        f"{c}_p50_s": statistics.median(w for k, w in serve if k == c)
        for c in sorted({k for k, _w in serve})
    }
    out["ops_per_min"] = 60 * len(serve) / sum(w for _k, w in serve)
    return out


def _check_repeat(run, digest_lists, ops, stage_rows) -> list[str]:
    """Op outputs must repeat across passes, and across runs with the same
    seed: the first run of a seed in this checkout records them (with the
    stage row counts), later runs compare."""
    failures = [
        f"pass {i}: op outputs differ from pass 0"
        for i, d in enumerate(digest_lists[1:], 1)
        if d != digest_lists[0]
    ]
    record = {"ops": ops_digest(ops), "outputs": digest_lists[0], "stage_rows": stage_rows}
    path = os.path.join(run.state_dir, f"kg-seed{run.seed}.json")
    if os.path.exists(path):
        with open(path) as f:
            prev = json.load(f)
        if prev != record:
            bad = [
                i for i, (a, b) in enumerate(zip(prev.get("outputs", []), record["outputs"])) if a != b
            ]
            failures.append(
                f"outputs differ from an earlier run with seed {run.seed}: ops {bad}, "
                f"stage rows {'same' if prev.get('stage_rows') == stage_rows else 'differ'}"
            )
    else:
        tmp = path + f".{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(record, f)
        os.replace(tmp, path)
    return failures
