#!/usr/bin/env python3
"""graft end-to-end benchmark. See graftbench/README.md.

    python3 graftbench/run.py --workload taxi_many_files --seed 1 --seconds 15 --trace 0

Run from the root of a graft checkout. Builds graft from source (cached),
generates the workload's inputs from the seed, runs one benchmark JVM,
checks its outputs, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"} with the end-to-end
metrics (--trace 0) or the per-layer metrics (--trace 1).
"""
import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

sys.dont_write_bytecode = True
import build  # noqa: E402

WORK = os.path.join(BENCH, ".work")
CPUS = 4
HEAP = "3g"
SETUPS = 3
JVM_TIMEOUT_S = 150
# Fixed work per run: operations per nominal second of --seconds, so both
# commits of a comparison run the same operations. query_mix runs whole
# rotations of its 13 queries.
OPS_PER_SECOND = {"taxi_many_files": 1 / 3, "taxi_bulk": 2 / 3}
ROTATIONS_PER_SECOND = 1 / 12
# Untimed operations after the cold one: bulk operations keep getting
# faster for several runs while the JIT compiles.
WARMUP = {"taxi_many_files": 0, "taxi_bulk": 3, "query_mix": 0}
QUERY_MIX_SF = 0.01
# Input tables each query of the rotation reads (for rows_per_s).
QUERY_TABLES = {
    "q1_pricing_summary": ["lineitem"],
    "q_text_stats": ["documents"],
    "q3_top_orders": ["customer", "orders", "lineitem"],
    "q_hour_pivot": ["events"],
    "q_ann_topk_quantized": ["embeddings"],
    "q5_region_revenue": ["region", "nation", "customer", "supplier", "orders", "lineitem"],
    "q_dedup_exact_keepers": ["documents"],
    "q_copurchase_pagerank": ["lineitem"],
    "q_ann_lsh_topk": ["embeddings"],
    "q_ks_drift_timeseries": ["events"],
    "q_minhash_lsh_neardup": ["documents"],
    "q_stream_late_pivot": ["events"],
    "q_fuzzy_join_top1": ["part"],
}
ROTATION = len(QUERY_TABLES)
FAMILIES = ["relational", "pipeline", "text", "sim", "graph", "streaming"]
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


# graft reads a trip file's taxi type and expected month from its whole path
# (graft.ingest.PathMeta): a type word or a `YYYY-M` run anywhere above the
# input folders would override the generator's folders and file names.
PATH_META = re.compile(r"yellow|green|fhv|\d{4}[-_]\d{1,2}", re.IGNORECASE)


def work_dir(workload, seed, trace):
    """Per-run work directory. Its name keeps seed digits away from `-` and
    `_`, so no part of it reads as a month to graft."""
    return os.path.join(WORK, f"{workload}.seed{seed}.trace{trace}")


def log(msg):
    print(f"graftbench: {msg}", file=sys.stderr, flush=True)


def op_count(workload, seconds):
    if workload == "query_mix":
        return ROTATION * max(1, round(seconds * ROTATIONS_PER_SECOND))
    return max(1, round(seconds * OPS_PER_SECOND[workload]))


def make_inputs(workload, seed, root):
    if workload == "query_mix":
        import gen_tables
        return gen_tables.generate(root, seed, QUERY_MIX_SF)
    import gen_taxi
    return gen_taxi.generate(workload, root, seed)


def run_jvm(workload, inputs, work, ops, trace, min_rides):
    # a fixed heap, touched at start-up, keeps page faults out of the ops;
    # no perf-data file, so the JVM writes nothing outside the checkout
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.sql.warehouse.dir={work}/warehouse",
           f"-Dlog4j2.configurationFile={BENCH}/log4j2.properties"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "graftbench.Harness",
            "--workload", workload, "--input", inputs, "--work", work,
            "--ops", str(ops), "--cpus", str(CPUS), "--setups", str(SETUPS),
            "--warmup", str(WARMUP[workload]),
            "--trace", "1" if trace else "0", "--min-rides", str(min_rides),
            "--trace-period", str(ROTATION if workload == "query_mix" else 1)]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(f"{work}/jvm.log", "w") as err:
        p = subprocess.Popen(cmd, stdout=err, stderr=err)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"graftbench: benchmark JVM exceeded {JVM_TIMEOUT_S} s")
    if p.returncode != 0 or not os.path.exists(f"{work}/result.json"):
        with open(f"{work}/jvm.log") as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"graftbench: benchmark JVM exited with {p.returncode}")
    with open(f"{work}/result.json") as fh:
        return json.load(fh)


def tail(values):
    """Highest percentile with at least ten samples beyond it, with the
    percentile; the maximum when a run has too few samples for one."""
    s = sorted(values)
    if len(s) > 20:
        return s[len(s) - 11], 100.0 * (len(s) - 10) / len(s)
    return s[-1], 100.0


def self_times(spans):
    """Span duration minus the part of it its child spans cover, listed by
    span name."""
    out = {}
    for s in spans:
        kids = sorted((c["start_ns"], c["end_ns"]) for c in spans
                      if c["op"] == s["op"] and c["parent"] == s["name"]
                      and c["start_ns"] >= s["start_ns"] and c["end_ns"] <= s["end_ns"])
        covered, end = 0, s["start_ns"]
        for a, b in kids:
            if b > end:
                covered += b - max(a, end)
                end = b
        out.setdefault(s["name"], []).append((s["end_ns"] - s["start_ns"] - covered) / 1e9)
    return out


def med(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(workload, manifest, result, timed, first, processed_rows):
    window = sum(o["wall_s"] for o in timed)
    ok = [o for o in timed if o["ok"]]
    # a failed or wrong operation is charged the whole timed window
    lat = [o["wall_s"] if o["ok"] else window for o in timed]
    tail_v, tail_pct = tail(lat)
    if workload == "query_mix":
        rows = sum(sum(manifest["rows"][t] for t in QUERY_TABLES[o["name"]]) for o in ok)
    else:
        rows = processed_rows * len(ok)
    metrics = {
        "setup_s": (med([a + b for a, b in result["setups"]]), "s"),
        "first_op_s": (first["wall_s"] if first["ok"] else first["wall_s"] + window, "s"),
        "op_s_p50": (med(lat), "s"),
        "op_s_tail": (tail_v, "s"),
        "rows_per_s": (rows / window, "rows/s"),
        "queries_per_min": (60.0 * len(ok) / window, "1/min"),
        "cpu_s_per_op": (sum(o["cpu_s"] for o in timed) / len(timed), "s"),
    }
    extra = {"op_s_tail_percentile": tail_pct, "op_s_tail_samples": len(lat),
             "timed_window_s": window}
    return metrics, extra


def per_layer(result, timed):
    traced = [o for o in timed if o["traced"] and o["ok"]]
    plain = [o for o in timed if not o["traced"] and o["ok"]]
    ex = [o["exec"] for o in traced]

    def e(key, scale=1.0):
        """Per-op mean: in query_mix a few queries do most of the work."""
        return statistics.fmean([x[key] * scale for x in ex]) if ex else 0.0

    spans = result["spans"]
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append((s["end_ns"] - s["start_ns"]) / 1e9)
    selfs = self_times(spans)
    m = {
        "session.start_s": (med([a for a, _ in result["setups"]]), "s"),
        "session.register_s": (med([b for _, b in result["setups"]]), "s"),
        "ingest.discover_s": (med(by_name.get("ingest.discover", [])), "s"),
        "ingest.detect_s": (med(by_name.get("ingest.detect", [])), "s"),
        "ingest.files": (med([o["files"] for o in traced]), "count"),
        "ingest.skipped_files": (med([o["skipped_files"] for o in traced]), "count"),
        "ingest.fs_list_ops": (med([o["fs_lists"] for o in traced]), "count"),
        "ingest.fs_read_ops": (med([o["fs_reads"] for o in traced]), "count"),
        "pipeline.plan_s": (med(by_name.get("pipeline.plan", [])), "s"),
        "pipeline.execute_s": (med(by_name.get("pipeline.execute", [])), "s"),
        "pipeline.report_s": (med(by_name.get("pipeline.report", [])), "s"),
        "pipeline.output_bytes_per_input_byte": (
            med([o["output_bytes"] / o["input_bytes"] for o in traced if o["input_bytes"]]),
            "ratio"),
        "pipeline.scan_leaves": (med([o["scan_leaves"] for o in traced]), "count"),
        "pipeline.meta_join": (med([o["meta_join"] for o in traced]), "count"),
        "exec.jobs": (e("jobs"), "count"),
        "exec.stages": (e("stages"), "count"),
        "exec.tasks": (e("tasks"), "count"),
        "exec.task_s": (e("task_ms", 1e-3), "s"),
        "exec.busy_frac": (sum(x["task_ms"] for x in ex) / 1e3 /
                           (sum(o["wall_s"] for o in traced) * CPUS) if ex else 0.0, "ratio"),
        "exec.idle_s": (e("idle_ms", 1e-3), "s"),
        "exec.map_task_s": (e("map_task_ms", 1e-3), "s"),
        "exec.reduce_task_s": (e("reduce_task_ms", 1e-3), "s"),
        "exec.input_bytes": (e("input_bytes"), "bytes"),
        "exec.output_bytes": (e("output_bytes"), "bytes"),
        "exec.shuffle_read_bytes": (e("shuffle_read_bytes"), "bytes"),
        "exec.shuffle_write_bytes": (e("shuffle_write_bytes"), "bytes"),
        "exec.spill_bytes": (e("spill_bytes"), "bytes"),
        "exec.gc_s": (statistics.fmean([o["gc_s"] for o in traced]) if traced else 0.0, "s"),
        "exec.peak_exec_mem_mb": (e("peak_exec_mem", 1 / 2**20), "MiB"),
        "exec.stage_skew": (e("stage_skew"), "ratio"),
        "query.build_s": (med(by_name.get("query.build", [])), "s"),
        "query.exec_s": (med(by_name.get("query.exec", [])), "s"),
        "pin.bytes_written": (e("pin_bytes"), "bytes"),
        "pin.blocks": (e("pin_blocks"), "count"),
        "pin.live_bytes": (statistics.fmean([o["pin_live"] for o in traced]) if traced
                           else 0.0, "bytes"),
        "trace.op_self_s": (med(selfs.get("op", [])), "s"),
        "trace.overhead_s": (med([o["wall_s"] for o in traced]) -
                             med([o["wall_s"] for o in plain]), "s"),
    }
    for fam in FAMILIES:
        m[f"query.{fam}.op_s"] = (med([o["wall_s"] for o in traced if o["family"] == fam]), "s")
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["taxi_many_files", "taxi_bulk", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    work = work_dir(a.workload, a.seed, a.trace)
    if a.workload != "query_mix" and PATH_META.search(work):
        raise SystemExit(f"graftbench: graft would read a taxi type or month from the "
                         f"work path {work}; run from a checkout whose path has neither")
    build.build()
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    manifest = make_inputs(a.workload, a.seed, inputs)
    # a traced run doubles the work: half of it runs untraced for the overhead
    ops = op_count(a.workload, a.seconds) * (2 if a.trace else 1)
    t0 = time.time()
    result = run_jvm(a.workload, inputs, work, ops, a.trace == 1,
                     manifest.get("min_rides", 0))
    log(f"JVM done in {time.time() - t0:.1f} s")
    first = result["ops"][0]
    timed = [o for o in result["ops"] if o["timed"]]
    first["out_dir"] = os.path.join(work, "out", "op-0")

    import check
    if a.workload == "query_mix":
        with open(os.path.join(work, "check", "queries.json")) as fh:
            queries = json.load(fh)
        problems = check.check_queries(inputs, os.path.join(work, "check"), queries, timed)
        processed = 0
    else:
        problems = check.check_taxi(inputs, manifest, first, timed)
        skipped = check.skipped_paths(inputs, first["report"]) if first["ok"] else {}
        processed = sum(f["rows"] for f in check.read_files(manifest, skipped))
    for p in problems:
        log(f"INCORRECT: {p}")
    failed = sum(1 for o in timed if not o["ok"])
    for o in timed:
        if not o["ok"]:
            log(f"failed op {o['k']} {o['name']}: {o['error']}")

    if a.trace:
        metrics = per_layer(result, timed)
    else:
        metrics, extra = end_to_end(a.workload, manifest, result, timed, first, processed)
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "cpus": result["cpus"], "heap_mb": result["heap_mb"],
              "master": result["master"], "spark": result["spark"],
              "attempted": len(timed), "failed": failed, "problems": problems,
              "setups": result["setups"], "first_op_s": first["wall_s"],
              "op_walls": [[o["name"], round(o["wall_s"], 4)] for o in timed]}
    if not a.trace:
        record.update(extra)
    with open(os.path.join(work, "record.json"), "w") as fh:
        json.dump(record, fh)
    shutil.rmtree(inputs)
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": not problems and failed == 0,
        "attempted": len(timed), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
