"""One workload run in one Spark session; started by run.py.

    python3 perfbench/worker.py '<json config>'

Starts the session on local[<cores>] with the program's own defaults
(`aperag_spark.session.get_spark`), sets the workload up, measures it, and
writes the result to `result.json` in its working directory.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from types import SimpleNamespace  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)

import battery  # noqa: E402
import kg  # noqa: E402
from spantrace import Tracer, totals  # noqa: E402

WORKLOADS = {"kg": kg, "battery": battery}
# conf keys recorded with every run (the effective values, defaults included)
CONF_KEYS = [
    "spark.master", "spark.driver.memory", "spark.local.dir",
    "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
    "spark.sql.autoBroadcastJoinThreshold", "spark.sql.files.maxPartitionBytes",
    "spark.sql.execution.arrow.pyspark.enabled", "spark.ui.enabled",
    "spark.driver.extraJavaOptions",
]


# Spark counters reported as per-layer metrics, over all spans of the pass
# (spill is 0 on these inputs; it stays in the record's per-span counters)
# and over the build spans alone.
PER_LAYER_SPARK = {
    "spark": [
        "jobs", "stages", "tasks", "run_ms", "cpu_ms", "python_ms", "gc_ms",
        "shuffle_read_bytes", "shuffle_write_bytes", "shuffle_read_records",
        "shuffle_write_records", "input_bytes", "output_bytes", "skew",
    ],
    "build": [
        "jobs", "stages", "tasks", "run_ms", "cpu_ms", "python_ms", "gc_ms",
        "shuffle_write_bytes", "skew",
    ],
}


def _geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def _layers(spans: list[dict], prefix: str) -> dict:
    """Per span name: count, mean wall and (when traced) summed counters,
    with the largest skew."""
    out: dict = {}
    for s in spans:
        agg = out.setdefault(f"{prefix}.{s['name']}", {"n": 0, "wall_s": 0.0})
        agg["n"] += 1
        agg["wall_s"] += s["wall_s"]
        for k, v in s.items():
            if k == "skew":
                agg[k] = max(agg.get(k, v), v)
            elif k not in ("name", "group", "wall_s", "build"):
                agg[k] = agg.get(k, 0) + v
    for agg in out.values():
        agg["wall_s"] /= agg["n"]
    return out


def main() -> None:
    cfg = json.loads(sys.argv[1])
    from aperag_spark.session import get_spark

    workload = WORKLOADS[cfg["workload"]]
    tmp = os.path.join(cfg["work"], "tmp")
    spark = get_spark(
        app_name=f"perfbench-{cfg['workload']}",
        master=f"local[{cfg['cores']}]",
        extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    run = SimpleNamespace(
        spark=spark,
        tracer=Tracer(spark, cfg["trace"]),
        setup={"session_s": time.perf_counter() - T_START},
        **{k: cfg[k] for k in ("work", "state_dir", "seed", "seconds", "trace", "cores")},
    )
    state = workload.setup(run)
    setup_s = time.perf_counter() - T_START
    res = workload.measure(run, state)
    measure_end = time.perf_counter() - T_START
    conf = dict(spark.sparkContext.getConf().getAll())
    spark.stop()
    stop_end = time.perf_counter() - T_START

    passes = res["passes"]
    metrics = {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(p["pass_s"] for p in passes), "s"),
        "op_geomean_s": (statistics.median(_geomean([w for _n, w in p["ops"]]) for p in passes), "s"),
        "build_s": (statistics.median(p["build_s"] for p in passes), "s"),
    }
    if cfg["trace"]:
        # the traced run's extra operator-by-operator build ("stage.*") is
        # not part of a pass
        pass_spans = [s for s in run.tracer.spans if not s["name"].startswith("stage.")]
        metrics = {
            "setup.session_s": (run.setup["session_s"], "s"),
            "setup.prepare_s": (setup_s - run.setup["session_s"], "s"),
            "trace.wall_s": (sum(p["pass_s"] for p in passes), "s"),
            "trace.overhead_s": (run.tracer.overhead_s, "s"),
        }
        build_spans = [s for s in pass_spans if s.get("build")]
        for scope, spans in (("spark", pass_spans), ("build", build_spans)):
            sums = totals(spans)
            metrics.update({f"{scope}.{k}": (sums[k], _unit(k)) for k in PER_LAYER_SPARK[scope]})
    failures = res["failures"]
    result = {
        "correct": not failures,
        "attempted": res["attempted"],
        "failed": min(len(failures), res["attempted"]),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "detail": {
            "workload": cfg["workload"],
            "seed": cfg["seed"],
            "trace": cfg["trace"],
            "pass_s": [p["pass_s"] for p in passes],
            "setup": {**run.setup, "setup_s": setup_s},
            "measure_end_s": measure_end,
            "stop_end_s": stop_end,
            "failures": failures,
            "conf": {k: conf.get(k) for k in CONF_KEYS},
            "pass_ops": passes[-1]["ops"],
            "layers": _layers(run.tracer.spans, cfg["workload"]),
            **res["detail"],
        },
    }
    with open(os.path.join(cfg["work"], "result.json"), "w") as f:
        json.dump(result, f)


def _unit(counter: str) -> str:
    if counter.endswith("_ms"):
        return "ms"
    if counter.endswith("_bytes"):
        return "B"
    if counter == "skew":
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
