#!/usr/bin/env python3
"""Benchmark of the rentals pipeline engine.

Usage:
  python3 perfbench/run.py --workload <etl_large|registry_mix|all>
                           --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program from
source (`perfbench/build.py`); inputs are generated from the seed
(`perfbench/gen.py`) and cached per (seed, size) under `.bench_build/`.

Every workload is a closed loop with one client: one operation at a time on
`local[cores]`, shuffle partitions = cores (`SPARK_GRAFT_CPUS`, else every
core this process may use). Each run prints its metrics by name, then one
JSON line: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the run records spans around
every layer call and reports the per-layer metrics instead. Detail (every
sample, every span) goes to .bench_build/perfbench/results/.
"""
import argparse
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402
import workloads as W  # noqa: E402

ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")

ZORI_REGIONS = 5000        # x 120 months = 0.6 M long rows before cleaning
REGISTRY_SF = 0.01         # registry tables; the warm workloads are latency-bound
# Registry tables are one fixed data set (the run's seed sets the query
# order instead), so the DuckDB oracle answers are computed once per checkout.
TABLE_SEED = 42
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 170
MIN_PRODUCT_RUNS = 1       # fresh JVMs per run; a traced run makes at least two

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]

# peak_live_heap_mb (the largest heap occupancy right after a GC in the timed
# part) is kept in the detail output only: it does not repeat within a tenth
# between runs of the same code.
END_TO_END = [("wall_s", "s"), ("setup_s", "s"), ("rows_per_s", "rows/s")]

CORE_FIELDS = ["wall_s", "jobs", "task_s", "busy_frac", "shuffle_mb", "peak_exec_mem_mb"]
SPANS = {
    "etl_large": ["rentals.read_csv", "rentals.write_processed", "rentals.transform_noop",
                  "rentals.read_processed", "rentals.dq_gate"],
    "registry_mix": sorted(W.DSV2_FAMILIES) + sorted(W.MIX_GROUPS),
}
LAYER_EXTRA = [
    ("rentals.write_processed.files", "count"), ("rentals.write_processed.dirs", "count"),
    ("rentals.write_processed.output_mb", "MB"), ("rentals.write_processed.exchanges", "count"),
    ("rentals.stage_attempts", "count"), ("rentals.spill_mb", "MB"), ("rentals.gc_s", "s"),
    ("sources.sql_statements", "count"), ("sources.meta_files_written", "count"),
    ("sources.data_files_written", "count"), ("sources.small_stage_frac", "ratio"),
    ("plans.catalyst_ms", "ms"),
    ("streaming.batches", "count"), ("streaming.add_batch_ms", "ms"),
    ("streaming.commit_ms", "ms"), ("streaming.state_rows", "count"),
    ("core.pinned_derivations", "count"),
    ("trace.overhead_frac", "ratio"),
]
FIELD_UNITS = {"wall_s": "s", "jobs": "count", "task_s": "s", "busy_frac": "ratio",
               "shuffle_mb": "MB", "peak_exec_mem_mb": "MB"}


def per_layer_metrics():
    """(name, unit) of every per-layer metric, in report order."""
    out = []
    for spans in SPANS.values():
        for span in spans:
            out += [(f"{span}.{f}", FIELD_UNITS[f]) for f in CORE_FIELDS]
    return out + LAYER_EXTRA


def cores():
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env and env.isdigit() and int(env) > 0:
        return int(env)
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- processes

def java_cmd(classes):
    jars = build.spark_jars()
    return (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC"]
            + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            + ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")])])


def new_workdir(tag):
    d = os.path.join(STATE, "work", f"{tag}-{os.getpid()}-{time.monotonic_ns()}")
    for sub in ("tmp", "local", "tables"):
        os.makedirs(os.path.join(d, sub))
    return d


def run_jvm(classes, plan, workdir):
    """Run one Harness process in its private working directory and table
    root; returns (result dict or None, launch epoch, log tail)."""
    plan_path = os.path.join(workdir, "plan.json")
    out_path = os.path.join(workdir, "result.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    cmd = java_cmd(classes) + [
        f"-Djava.io.tmpdir={workdir}/tmp",
        f"-Dgraft.tables.root={workdir}/tables",
        "perfbench.Harness", plan_path, out_path]
    log_path = os.path.join(workdir, "jvm.log")
    with open(log_path, "w") as log:
        launched = time.time()
        p = subprocess.Popen(cmd, cwd=workdir, stdout=log, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    result = None
    if p.returncode == 0 and os.path.exists(out_path):
        with open(out_path) as f:
            result = json.load(f)
    with open(log_path, errors="replace") as f:
        tail = f.read()[-2000:]
    return result, launched, tail


# ------------------------------------------------------------------- inputs

def cached_input(kind, seed, size, make):
    """Inputs are cached per (kind, seed, size); the newest few are kept."""
    base = os.path.join(STATE, "inputs")
    d = os.path.join(base, f"{kind}-s{seed}-n{size}")
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return d, json.load(f), 0.0
    tmp = d + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    meta = make(tmp)
    gen_s = time.time() - t0
    meta["gen_s"] = gen_s
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    old = sorted((os.path.join(base, e) for e in os.listdir(base) if e.startswith(kind + "-")),
                 key=os.path.getmtime)
    for o in old[:-4]:
        shutil.rmtree(o, ignore_errors=True)
    return d, meta, gen_s


def zori_input(seed):
    def make(d):
        csv = os.path.join(d, "raw.csv")
        gen.write_zori_csv(csv, seed, ZORI_REGIONS)
        return {"expected": oracle.zori_expected(csv)}
    d, meta, gen_s = cached_input("zori", seed, ZORI_REGIONS, make)
    return os.path.join(d, "raw.csv"), meta, gen_s


def tables_input():
    def make(d):
        gen.write_tables(d, TABLE_SEED, REGISTRY_SF)
        return {}
    d, _, gen_s = cached_input("tables", TABLE_SEED, REGISTRY_SF, make)
    return d, gen_s


# ---------------------------------------------------------------- workloads

def list_output(out_dir):
    files = dirs = size = 0
    for d, _, names in os.walk(out_dir):
        data = [n for n in names if n.endswith(".parquet")]
        if data:
            dirs += 1
        files += len(data)
        size += sum(os.path.getsize(os.path.join(d, n)) for n in data)
    return {"files": files, "dirs": dirs, "output_mb": size / 1048576.0}


def etl_large(classes, seed, seconds, trace):
    csv, meta, gen_s = zori_input(seed)
    expected = meta["expected"]
    samples, spans, errors = [], [], []
    t_start = time.time()
    k = 0
    # fresh JVM per product run, as a weekly PipelineMain run pays it; a
    # traced run alternates traced and untraced runs for its own overhead
    while k < MIN_PRODUCT_RUNS + trace or time.time() - t_start < seconds:
        traced = trace and k % 2 == 0
        workdir = new_workdir("etl")
        out = os.path.join(workdir, "processed")
        plan = {"mode": "product", "cores": cores(), "trace": traced, "csv": csv, "out": out,
                "local_dir": os.path.join(workdir, "local")}
        res, launched, tail = run_jvm(classes, plan, workdir)
        rec = {"traced": traced, "ok": False}
        if res is None:
            rec["err"] = "harness process failed: " + tail[-500:]
        else:
            u = res["units"][0]
            rec.update(wall_s=u["wall_s"], setup_s=res["ready_at"] - launched, gc_s=u["gc_s"],
                       peak_live_heap_mb=u["peak_live_heap_mb"],
                       stage_attempts=u["stage_attempts"], ok=u["ok"], err=u.get("err"))
            if u["ok"]:
                got = oracle.processed_actual(out)
                rec.update(rows=got["rows"], **list_output(out))
                if got != expected:
                    rec.update(ok=False, err=f"output {got} != oracle {expected}")
            for s in res["spans"]:
                s["unit"] = f"product-{k}"
            spans += res["spans"]
        if not rec["ok"]:
            errors.append(rec.get("err"))
        samples.append(rec)
        shutil.rmtree(workdir, ignore_errors=True)
        k += 1
    noop_runs = noop_failed = 0
    if trace:
        workdir = new_workdir("etl")
        plan = {"mode": "transform_noop", "cores": cores(), "trace": True, "csv": csv,
                "local_dir": os.path.join(workdir, "local")}
        res, _, tail = run_jvm(classes, plan, workdir)
        noop_runs = 1
        if res is None or not res["units"][0]["ok"]:
            noop_failed = 1
            errors.append("transform_noop failed: " + (tail[-500:] if res is None
                                                        else res["units"][0].get("err", "")))
        else:
            for s in res["spans"]:
                s["unit"] = "transform_noop"
            spans += res["spans"]
        shutil.rmtree(workdir, ignore_errors=True)

    good = [s for s in samples if s["ok"]]
    plain = [s for s in good if not s["traced"]]
    detail = {"workload": "etl_large", "seed": seed, "regions": ZORI_REGIONS, "gen_s": gen_s,
              "expected": expected, "samples": samples, "errors": errors}
    summary = {"attempted": len(samples) + noop_runs,
               "failed": len(samples) - len(good) + noop_failed, "detail": detail}
    if not good:
        return summary, None, spans
    m = {
        "wall_s": stats.median([s["wall_s"] for s in plain or good]),
        "setup_s": stats.median([s["setup_s"] for s in good]),
        "rows_per_s": stats.median([s["rows"] / s["wall_s"] for s in plain or good]),
        "peak_live_heap_mb": stats.median([s["peak_live_heap_mb"] for s in plain or good]),
    }
    detail["timings"] = {k: stats.timing([s[k] for s in plain or good])
                         for k in ("wall_s", "setup_s")}
    layer = {}
    traced = [s for s in good if s["traced"]]
    if traced:
        layer.update({
            "rentals.write_processed.files": stats.median([s["files"] for s in traced]),
            "rentals.write_processed.dirs": stats.median([s["dirs"] for s in traced]),
            "rentals.write_processed.output_mb": stats.median([s["output_mb"] for s in traced]),
            "rentals.stage_attempts": stats.median([s["stage_attempts"] for s in traced]),
            "rentals.gc_s": stats.median([s["gc_s"] for s in traced]),
        })
        if plain and traced:
            layer["trace.overhead_frac"] = (stats.median([s["wall_s"] for s in traced])
                                            / stats.median([s["wall_s"] for s in plain]) - 1.0)
    return summary, (m, layer), spans


def registry_mix(classes, seed, seconds, trace):
    queries = list(W.REGISTRY_QUERIES)
    random.Random(seed).shuffle(queries)  # the seed sets the query order
    data_dir, gen_s = tables_input()
    workdir = new_workdir("registry_mix")
    check_dir = os.path.join(workdir, "check")
    plan = {"mode": "passes", "cores": cores(), "trace": bool(trace), "data_dir": data_dir,
            "queries": queries, "groups": {q: W.registry_span(q) for q in queries},
            "check_dir": check_dir, "warm_passes": W.WARM_PASSES,
            "min_passes": W.MIN_PASSES, "seconds": seconds,
            "tables_root": os.path.join(workdir, "tables"),
            "local_dir": os.path.join(workdir, "local")}
    res, launched, tail = run_jvm(classes, plan, workdir)
    detail = {"workload": "registry_mix", "seed": seed, "sf": REGISTRY_SF,
              "table_seed": TABLE_SEED, "gen_s": gen_s, "order": queries}
    if res is None:
        shutil.rmtree(workdir, ignore_errors=True)
        detail["errors"] = ["harness process failed: " + tail[-1500:]]
        return {"attempted": len(queries), "failed": len(queries), "detail": detail}, None, []
    checks = oracle.check_registry(data_dir, check_dir, res["oracle_sql"], queries,
                                   os.path.join(STATE, "oracle"))
    shutil.rmtree(workdir, ignore_errors=True)
    errors = [f"{q}: check pass threw {e}" for q, e in res["check_errors"].items()]
    errors += [f"{q}: {c['error']}" for q, c in checks.items() if not c["ok"]]
    bad = {q for q, c in checks.items() if not c["ok"]} | set(res["check_errors"])
    stale = mapping_errors(res["modules"])
    if stale:
        errors += stale
        bad = set(queries)  # a stale family/group table invalidates every span
    units = res["units"]
    ops = [op for u in units for op in u["ops"]]
    # an operation whose query failed its oracle check counts as failed
    failed_ops = [op for op in ops if not op["ok"] or op["name"] in bad]
    errors += [f"{op['name']}: {op['err']}" for op in ops if not op["ok"]]
    detail.update(checks=checks, errors=errors,
                  setup_pinned_derivations=res["setup_pinned_derivations"],
                  passes=[{k: v for k, v in u.items() if k != "ops"} for u in units],
                  op_s={q: [op["s"] for op in ops if op["name"] == q] for q in queries})
    summary = {"attempted": len(ops), "failed": len(failed_ops), "detail": detail}
    good = [u for u in units if u["ok"]] if not bad else []
    if not good:
        return summary, None, res["spans"]
    traced = [u for u in good if u["traced"]]
    untraced = [u for u in good if not u["traced"]]
    plain = untraced or good
    rows = sum(c["rows"] for c in checks.values())
    m = {
        "wall_s": stats.median([u["wall_s"] for u in plain]),
        "setup_s": res["setup_done_at"] - launched,
        "rows_per_s": stats.median([rows / u["wall_s"] for u in plain]),
        "peak_live_heap_mb": stats.median([u["peak_live_heap_mb"] for u in plain]),
    }
    detail["timings"] = {"wall_s": stats.timing([u["wall_s"] for u in plain]),
                         "op_s": stats.timing([op["s"] for op in ops if op["ok"]])}
    layer = {}
    if traced:
        layer["core.pinned_derivations"] = stats.median([u["pinned_derivations"] for u in traced])
        layer["sources.meta_files_written"] = stats.median(
            [u["meta_files_written"] for u in traced])
        layer["sources.data_files_written"] = stats.median(
            [u["data_files_written"] for u in traced])
        if untraced:
            layer["trace.overhead_frac"] = (stats.median([u["wall_s"] for u in traced])
                                            / m["wall_s"] - 1.0)
    return summary, (m, layer), res["spans"]


def mapping_errors(modules):
    """The static family/group tables must agree with the registry."""
    errs = []
    for table in (W.DSV2_FAMILIES, W.MIX_GROUPS):
        for span, qs in table.items():
            for q in qs:
                owners = modules.get(q)
                if owners is None:
                    errs.append(f"{q}: not registered")
                elif owners != [W.module_of_span(span)]:
                    errs.append(f"{q}: registered by {owners}, listed under {span}")
    listed = set(W.span_of(W.DSV2_FAMILIES)) | set(W.DSV2_EXCLUDED)
    errs += [f"{q}: registered but in no family"
             for q in modules if q.startswith("dsv2_") and q not in listed]
    return errs


# ------------------------------------------------------------------ spans

def layer_from_spans(workload, spans, n_cores):
    """Per-layer metrics from the traced spans: per unit (one product run or
    one timed pass) the sum over the unit's spans of a name, then the median
    over units."""
    selfs = stats.self_times(spans)
    for s in spans:
        s["self_s"] = selfs[s["id"]]
    units = sorted({s["unit"] for s in spans})
    out = {}

    def per_unit(pred, key):
        vals = []
        for u in units:
            ss = [s for s in spans if s["unit"] == u and pred(s)]
            if ss:
                vals.append(key(ss))
        return stats.median(vals) if vals else 0.0

    def total(field):
        return lambda ss: sum(s[field] for s in ss)

    for span in SPANS[workload]:
        def named(s, span=span):
            return s["name"] == span
        wall = per_unit(named, lambda ss: sum(s["end"] - s["start"] for s in ss))
        task = per_unit(named, total("task_s"))
        out[f"{span}.wall_s"] = wall
        out[f"{span}.jobs"] = per_unit(named, total("jobs"))
        out[f"{span}.task_s"] = task
        out[f"{span}.busy_frac"] = task / (wall * n_cores) if wall > 0 else 0.0
        out[f"{span}.shuffle_mb"] = per_unit(named, total("shuffle_mb"))
        out[f"{span}.peak_exec_mem_mb"] = per_unit(
            named, lambda ss: max(s["peak_exec_mem_mb"] for s in ss))

    def root(s):  # one product run or one timed pass
        return s["parent"] == -1 and s["name"] in ("product", "pass")

    def sources(s):
        return s["name"].startswith("sources.")

    out["plans.catalyst_ms"] = per_unit(root, total("catalyst_ms"))
    for key in ("batches", "add_batch_ms", "commit_ms", "state_rows"):
        out[f"streaming.{key}"] = per_unit(root, total(key))
    if workload == "etl_large":
        out["rentals.write_processed.exchanges"] = per_unit(
            lambda s: s["name"] == "rentals.write_processed", total("exchanges"))
        out["rentals.spill_mb"] = per_unit(root, total("spill_mb"))
    else:
        out["sources.sql_statements"] = per_unit(sources, total("statements"))
        out["sources.small_stage_frac"] = per_unit(
            sources, lambda ss: sum(s["small_stages"] for s in ss) / max(1, sum(s["stages"] for s in ss)))
    return out


# ------------------------------------------------------------------- main

WORKLOADS = {"etl_large": etl_large, "registry_mix": registry_mix}


def run(workload, seed, seconds, trace):
    classes = build.build()
    summary, metrics, spans = WORKLOADS[workload](classes, seed, seconds, trace)
    detail = summary.pop("detail")
    correct = metrics is not None and summary["failed"] == 0
    detail["fail_frac"] = summary["failed"] / max(1, summary["attempted"])
    report = {}
    if metrics is not None:
        e2e, layer = metrics
        detail["end_to_end"] = e2e
        if trace:
            layer = {**layer, **layer_from_spans(workload, spans, cores())}
            detail["per_layer"] = layer
            report = {n: {"value": float(layer.get(n, 0.0)), "unit": u}
                      for n, u in per_layer_metrics()}
        else:
            report = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END}
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    stem = os.path.join(STATE, "results", f"{workload}-seed{seed}-trace{int(trace)}")
    with open(stem + ".json", "w") as f:
        json.dump(detail, f, indent=1)
    if trace:
        with open(stem + ".spans.json", "w") as f:
            json.dump(spans, f)
    for e in detail.get("errors", [])[:20]:
        print(f"[perfbench] {workload}: {e}", file=sys.stderr)
    return correct, summary, report, detail


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    # a terminated run unwinds, so run_jvm's cleanup kills and reaps its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    names = list(WORKLOADS) if a.workload == "all" else [a.workload]
    correct, attempted, failed, metrics = True, 0, 0, {}
    for name in names:
        ok, summary, report, detail = run(name, a.seed, a.seconds, bool(a.trace))
        correct &= ok
        attempted += summary["attempted"]
        failed += summary["failed"]
        for metric, v in report.items():
            print(f"{name} {metric} = {v['value']:.6g} {v['unit']}")
        if not a.trace and "end_to_end" in detail:
            print(f"{name} peak_live_heap_mb = "
                  f"{detail['end_to_end']['peak_live_heap_mb']:.6g} MB (detail only)")
        print(f"{name} fail_frac = {detail['fail_frac']:.6g} "
              f"({summary['failed']}/{summary['attempted']} operations)")
        # with several workloads the JSON line names each metric by workload
        metrics.update(report if len(names) == 1
                       else {f"{name}.{k}": v for k, v in report.items()})
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
