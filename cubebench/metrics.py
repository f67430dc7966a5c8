"""Output checks and metric arithmetic for the benchmark runner.

Every run reports the same end-to-end metrics; what an "operation" and a
"round" are depends on the workload:

    workload        operation            round
    cube_build      one full build       the build and its 0-pending re-run
    query_suite     one query execution  one sweep over the suite

Per-layer metrics are normalized per timed round unless their name says
otherwise; a metric that does not apply to a workload reads 0.
"""
import json
import math
import os

import scenes

E2E = {
    "round_s.p50": "s",
    "setup_s": "s",
}

CUBE_STAGES = ("plan", "decode_bucket", "quarantine", "composite_blocks",
               "publish_index", "publish_items", "publish_quicklook",
               "publish_cogs", "publish_ledger", "readback")
MODULES = ("Relational", "CubeOps", "EngineOps", "Pipeline", "Analytics")
MAIN_OP = {"cube_build": "build", "query_suite": "query"}


def _per_layer():
    m = {}
    for k in CUBE_STAGES:
        m["cube.%s.wall_s" % k] = "s"
        m["cube.%s.jobs" % k] = "count"
        m["cube.%s.task_s" % k] = "s"
    m.update({
        "cube.gap_s": "s", "cube.shuffle_bytes": "B", "cube.spill_bytes": "B",
        "cube.sizing_probe_jobs": "count",
        "spark.analysis_s": "s", "spark.optimization_s": "s",
        "spark.planning_s": "s", "spark.actions": "count",
        "spark.codegen_compile_s": "s", "spark.codegen_compiles": "count",
        "spark.job_s": "s", "spark.jobs": "count", "spark.tasks": "count",
        "spark.shuffle_bytes": "B", "spark.gap_s": "s",
    })
    for mod in MODULES:
        m["queries.%s.s" % mod] = "s"
    m.update({
        "sources.geotiff_decode_mb_s": "MB/s",
        "sources.geotiff_encode_mb_s": "MB/s",
        "operators.mosaic_mpx_s": "Mpx/s",
        "operators.composite_mpx_s": "Mpx/s",
        "functions.ndvi_mpx_s": "Mpx/s",
        "catalog.bytes": "B", "catalog.files": "count",
        "catalog.versions": "count",
        "jvm.gc_s": "s", "jvm.gc_count": "count", "jvm.jit_s": "s",
        "jvm.peak_heap_mb": "MB",
        "build_mpx_per_s": "Mpx/s", "out_bytes_per_px": "B/px",
        "noop_run_s.p50": "s",
        "query_s.n": "count",
        "trace.op_s.p50": "s", "trace.op_cpu_s.p50": "s", "trace.round_s.p50": "s",
        "trace.setup_s": "s",
    })
    return m


PER_LAYER = _per_layer()


def median(xs):
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return float("nan")
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0


def self_times(spans):
    """Self time per span name, in seconds: each span's duration minus the
    part of it its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        # Spark-job spans carry id -1 and have no children
        iv = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                    for c in kids.get(s["id"], []) if s["id"] >= 0)
        covered, cur_s, cur_e = 0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - covered) / 1e3
    return out


def _ops(records, kind=None):
    return [r for r in records if r.get("ev") == "op" and (kind is None or r["kind"] == kind)]


def check(workload, records, expect):
    """Count every timed operation and output check, and which failed;
    returns attempted, failed and one line per failure."""
    errors = []
    ops = _ops(records)
    threw = [r for r in records if r.get("ev") == "check"]
    attempted = len(ops) + len(threw)
    for r in ops:
        if not r["ok"]:
            errors.append("%s round %d threw: %s" % (r["kind"], r["round"], r["err"][:300]))
    for r in threw:
        errors.append("check %s threw: %s" % (r["what"], r["err"][:300]))

    def want(r, **kv):
        bad = ["%s=%s, want %s" % (k, r.get(k), v) for k, v in kv.items() if r.get(k) != v]
        if bad:
            errors.append("%s round %d: %s" % (r["kind"], r["round"], "; ".join(bad)))

    if workload == "cube_build":
        t, p, px = expect["tiles"], expect["periods"], expect["px"]
        blocks = t * p * len(scenes.SPECTRAL) * (px // 256) ** 2
        for r in ops:
            if r["ok"] and r["kind"] == "build":
                want(r, planned=t * p * len(scenes.BANDS), items=t * p, blocks=blocks,
                     errors=0)
            elif r["ok"]:
                want(r, planned=0, items=0, blocks=0, errors=0)
        ref = {"%s|%s|%s" % k: v for k, v in expect["sums"].items()}
        for r in records:
            if r.get("ev") != "outputs":
                continue
            attempted += 1
            got = {"%s|%s|%s" % (s["tile"], s["p_start"], s["band"]): s["sum"]
                   for s in r["sums"]}
            # one COG per composite band and per index band, one quicklook per item
            diff = sorted(k for k in set(got) | set(ref) if got.get(k) != ref.get(k))
            want(dict(r, kind="outputs", sums_differ=diff[:4]),
                 cogs=t * p * (len(scenes.SPECTRAL) + 1), pngs=t * p, sums_differ=[])
    elif workload == "query_suite":
        import oracle
        with open(os.path.join(os.path.dirname(expect["results"]), "oracles.json")) as f:
            orc = json.load(f)
        for name, why in oracle.compare(expect["tables"], expect["results"], orc).items():
            attempted += 1
            if why is not None:
                errors.append("query %s: %s" % (name, why))
    return {"attempted": attempted, "failed": len(errors), "errors": errors}


def _rounds(records):
    per = {}
    for r in _ops(records):
        per[r["round"]] = per.get(r["round"], 0.0) + r["s"]
    return list(per.values())


def headline(workload, records, t_setup):
    """The end-to-end metrics, and the wall and CPU time of one operation,
    which are reported with the per-layer metrics."""
    setup_end = [r["end_ms"] for r in records if r.get("ev") == "setup"]
    main = _ops(records, MAIN_OP[workload])
    return {
        "op_s.p50": median([r["s"] for r in main]),
        "op_cpu_s.p50": median([r["cpu_s"] for r in main]),
        "round_s.p50": median(_rounds(records)),
        "setup_s": setup_end[0] / 1e3 - t_setup if setup_end else float("nan"),
    }


def result(workload, records, checks, t_setup, trace):
    values = headline(workload, records, t_setup)
    correct = checks["failed"] == 0 and all(math.isfinite(values[k]) for k in E2E)
    values = {k: _finite(v) for k, v in values.items()}
    if trace:
        metrics = {"trace." + k: {"value": v, "unit": "s"} for k, v in values.items()}
    else:
        metrics = {k: {"value": values[k], "unit": unit} for k, unit in E2E.items()}
    return {"correct": correct, "attempted": max(checks["attempted"], 1),
            "failed": checks["failed"], "metrics": metrics}


def traced(workload, records, log, expect):
    """Per-layer metrics of a traced run, including the workload-specific
    end-to-end figures measured under tracing."""
    m = {}
    layers = [r for r in records if r.get("ev") == "layers"]
    if layers:
        m.update(layers[0]["m"])
    m["cube.sizing_probe_jobs"] = float(log.count("[cube] sizing probe"))
    if workload == "cube_build":
        c = expect
        mpx = c["tiles"] * c["periods"] * c["dates"] * len(scenes.BANDS) * c["px"] ** 2 / 1e6
        m["build_mpx_per_s"] = median([mpx / r["s"] for r in _ops(records, "build")])
        m["noop_run_s.p50"] = median([r["s"] for r in _ops(records, "noop")])
        outs = [r for r in records if r.get("ev") == "outputs"]
        if outs:
            m["out_bytes_per_px"] = median([r["out_bytes"] for r in outs]) / (mpx * 1e6)
            m["catalog.bytes"] = max(r["catalog_bytes"] for r in outs)
            m["catalog.files"] = max(r["catalog_files"] for r in outs)
            m["catalog.versions"] = max(r["catalog_versions"] for r in outs)
    if workload == "query_suite":
        q = [r["s"] for r in _ops(records, "query")]
        rounds = len(_rounds(records))
        m["query_s.n"] = float(len(q))
        for mod in MODULES:
            m["queries.%s.s" % mod] = sum(
                r["s"] for r in _ops(records, "query") if r["module"] == mod) / max(rounds, 1)
    return {k: {"value": _finite(v), "unit": PER_LAYER[k]} for k, v in m.items()
            if k in PER_LAYER}


def _finite(v):
    v = float(v)
    return v if math.isfinite(v) else 0.0


def missing_layers(metrics):
    """A per-layer metric the workload does not exercise reads 0."""
    for k, unit in PER_LAYER.items():
        metrics.setdefault(k, {"value": 0.0, "unit": unit})
