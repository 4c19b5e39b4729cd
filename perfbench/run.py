#!/usr/bin/env python3
"""The repo benchmark: one command per workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (one client thread, closed loop, one JVM on local[nproc]):

  atac_product  the paper's pipeline on seeded h5ad input: H5ad.scanModalities,
                ProductBuild.build (partitioned parquet + metadata JSON), then a
                partition-pruned aggregate over ProductSink.readProduct.
  eager_mix     registered queries whose construction call starts Spark jobs; every
                pass reads a fresh snapshot directory, so per-path memos miss.

The run builds the program and the harness from source (cached in
.bench_build/), makes its inputs from the seed, runs the JVM, checks every
output outside the timed windows, and prints the metrics. The last line of
standard output is one JSON object: correct, attempted, failed and metrics
(end-to-end metrics with --trace 0, per-layer metrics with --trace 1).
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

import build  # noqa: E402
import gen_tables  # noqa: E402
import metrics as M  # noqa: E402

WORKLOADS = ("atac_product", "eager_mix")
# Table scale of the query mix and shape of the product input. Sized so
# every run, first pass included, fits the benchmark's run length on 4 cores.
MIX_SF = 0.05
MIX_DATA_SEED = 42
ATAC_DATASETS = 4
ATAC_CELLS = 2400
JVM_HEAP = "3g"
RUN_TIMEOUT_S = 170
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# A pass counts as contaminated when other processes, or other machines
# through the hypervisor's steal time, used more than this share of the
# box's CPU during it.
CONTAMINATION_SHARE = 0.10


def ensure_tables(bb):
    d = os.path.join(bb, "data", f"tables-sf{MIX_SF}-seed{MIX_DATA_SEED}")
    if not os.path.exists(os.path.join(d, "done")):
        shutil.rmtree(d, ignore_errors=True)
        gen_tables.generate(MIX_SF, d, MIX_DATA_SEED)
        open(os.path.join(d, "done"), "w").close()
    return d


def read_list():
    with open(os.path.join(HERE, "lists", "eager_mix.txt")) as fh:
        return [ln.split("#")[0].strip() for ln in fh
                if ln.split("#")[0].strip()]


def run_jvm(cp, jargs, work, deadline):
    cmd = (["java"] + build.JAVA_OPENS +
           [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Xss4m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.hadoop.hadoop.tmp.dir={work}/tmp/hadoop",
            f"-Dspark.local.dir={work}/tmp",
            f"-Dspark.sql.warehouse.dir={work}/tmp/warehouse",
            "-Dspark.ui.enabled=false",
            "-cp", ":".join(cp), "perfbench.Main"] +
           [f"{k}={v}" for k, v in jargs.items()])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        # Few malloc arenas keep the process's resident size from depending
        # on which threads happened to allocate.
        env = dict(os.environ, MALLOC_ARENA_MAX="2")
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work, env=env)
        try:
            rc = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError("benchmark JVM timed out")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"benchmark JVM exited with {rc}:\n{tail}")
    with open(jargs["out"]) as fh:
        return json.load(fh)


# ---- checks -----------------------------------------------------------------

def oracle_digests(data, sqls, bb):
    """Digest of each oracle query's DuckDB result, cached per data
    directory and SQL text."""
    cache_file = os.path.join(bb, "oracle", os.path.basename(data) + ".json")
    cache = json.load(open(cache_file)) if os.path.exists(cache_file) else {}
    con = None
    out = {}
    for name, sql in sqls.items():
        key = hashlib.sha1(sql.encode()).hexdigest()
        if key not in cache:
            if con is None:
                con = duckdb.connect()
                for t in TABLES:
                    con.sql(f"CREATE VIEW {t} AS FROM '{data}/{t}.parquet'")
            try:
                cache[key] = M.relation_digest(con.sql(sql))
            except Exception as e:  # an oracle that cannot run is a failure
                cache[key] = "error: " + str(e).splitlines()[0][:200]
        out[name] = cache[key]
    os.makedirs(os.path.dirname(cache_file), exist_ok=True)
    with open(cache_file, "w") as fh:
        json.dump(cache, fh)
    return out


def check_mix(raw, data, bb):
    """Mark each operation's failure, if any. The first result of each query
    is compared with the DuckDB oracle (or, without one, must have rows);
    every later result must have the first one's digest; and every
    construction call must start a Spark job, or the snapshot no longer misses the memos."""
    extra = raw["workload_extra"]
    oracle = oracle_digests(data, extra["oracle_sql"], bb)
    con = duckdb.connect()
    first = {}
    for o in raw["ops"]:
        name = o["name"]
        if name in first:
            continue
        first[name] = o
        if o["error"]:
            continue
        if name in oracle:
            if oracle[name].startswith("error"):
                o["first_failure"] = f"oracle {oracle[name]}"
                continue
            mine = M.relation_digest(con.sql(
                f"SELECT * FROM read_parquet('{extra['results_dir']}/{name}/*.parquet')"))
            if mine != oracle[name]:
                o["first_failure"] = f"result {mine} != oracle {oracle[name]}"
        elif o["rows"] <= 0:
            o["first_failure"] = "no rows (query has no oracle entry)"
    for o in raw["ops"]:
        f0 = first[o["name"]]
        if o["error"]:
            o["failure"] = o["error"]
        elif f0.get("error") or f0.get("first_failure"):
            o["failure"] = f0.get("first_failure") or "first result failed"
        elif o["hash"] != f0["hash"]:
            o["failure"] = "result differs from the checked first result"
        elif o["counters"].get("construct", {}).get("jobs", 0) == 0:
            o["failure"] = "no Spark job during construction (memo hit)"


def product_totals(product_dir):
    con = duckdb.connect()
    rel = con.sql(
        f"SELECT modality, dataset, count(*) AS n, sum(value) AS s FROM "
        f"read_parquet('{product_dir}/fact/*/*/*.parquet', hive_partitioning=true, "
        f"hive_types_autocast=false) GROUP BY ALL")
    groups = [{"modality": m, "dataset": d, "rows": n, "value_sum": s}
              for m, d, n, s in rel.fetchall()]
    meta = {}
    for f in glob.glob(f"{product_dir}/metadata/*.json"):
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    meta = json.loads(line)
    files = len(glob.glob(f"{product_dir}/fact/*/*/*.parquet"))
    return {"rows": sum(g["rows"] for g in groups),
            "total_cell_count": meta.get("total_cell_count"),
            "groups": groups, "files": files}


def check_atac(raw):
    expected = raw["workload_extra"]["expected"]
    gene = {g["dataset"]: g for g in expected["groups"]
            if g["modality"] == "cell_by_gene"}
    for o in raw["ops"]:
        if o["error"]:
            o["failure"] = o["error"]
            continue
        obs = product_totals(o["extra"]["product_dir"])
        o["files_written"] = obs["files"]
        bad = M.check_product(expected, obs)
        readback = {r["dataset"]: r for r in o["extra"]["readback"]}
        if sorted(readback) != sorted(gene) or any(
                int(readback[d]["rows"]) != gene[d]["rows"] or
                float(readback[d]["value_sum"]) != gene[d]["value_sum"]
                for d in gene):
            bad.append("partition-pruned readback disagrees with the generator")
        if bad:
            o["failure"] = "; ".join(bad)


# ---- metrics ----------------------------------------------------------------

def layer_sum(ops, key, layers=None):
    return sum(v.get(key, 0) for o in ops for layer, v in o["counters"].items()
               if layers is None or layer in layers)


def end_to_end(raw, ops):
    passes = raw["passes"]
    timed = [p for p in passes if p["kind"] == "timed" and not p["traced"]]
    timed_idx = {p["idx"] for p in timed}
    lat = [o["total_ns"] / 1e9 for o in ops if o["pass"] in timed_idx]
    return {
        "setup_s": (raw["setup"]["total_ns"] / 1e9, "s"),
        "first_pass_s": (passes[0]["wall_ns"] / 1e9, "s"),
        "pass_s": (M.percentile([p["wall_ns"] / 1e9 for p in timed], 50), "s"),
        "op_p50_s": (M.percentile(lat, 50), "s"),
        "op_p90_s": (M.percentile(lat, 90), "s"),
        "cpu_s": (M.percentile([p["cpu_ticks"] / 100.0 for p in timed], 50), "s"),
        "peak_rss_mb": (raw["end"]["vm_hwm_mb"], "MB"),
        "ok_frac": (1.0 - M.failed_frac(ops), "ratio"),
    }


EXEC_LAYERS = ("exec", "product.build", "sources.readback")
SPAN_NAMES = ("pass", "op", "construct", "exec", "plan", "product.build",
              "sources.readback")


def per_layer(raw, ops):
    passes = raw["passes"]
    timed = [p for p in passes if p["kind"] == "timed"]
    n = len(timed)
    idx = {p["idx"] for p in timed}
    t_ops = [o for o in ops if o["pass"] in idx]
    cores = int(raw["cpus"])

    def per_pass(x):
        return x / n

    files = int(raw["workload_extra"].get("h5ad_files", 0))
    decode = per_pass(layer_sum(t_ops, "h5ad_decode_tasks"))
    ex = lambda k: per_pass(layer_sum(t_ops, k, EXEC_LAYERS))  # noqa: E731
    exec_ms = per_pass(sum(o["exec_ns"] for o in t_ops) / 1e6)
    stages = ex("stages")
    plan = [o["plan"] for o in t_ops if o["plan"]]
    traced = [p for p in timed if p["traced"]]
    traced_idx = {p["idx"] for p in traced}
    # spans rows: id, parent, pass, op, name, start_ns, end_ns
    spans = [s[:2] + s[3:] for s in raw["spans"] if s[2] in traced_idx]
    selfs = M.self_times(spans)
    span_ms = lambda name: sum(  # noqa: E731
        (s[5] - s[4]) for s in spans if s[3] == name) / 1e6 / max(1, len(traced))
    out = {
        "session.build_ms": (raw["setup"]["build_ns"] / 1e6, "ms"),
        "session.warmup_ms": (raw["setup"]["warmup_ns"] / 1e6, "ms"),
        "sources.h5ad_files": (files, "count"),
        "sources.h5ad_decode_tasks": (decode, "count"),
        "sources.h5ad_decodes_per_file": (decode / files if files else 0.0, "ratio"),
        "sources.h5ad_decode_task_ms": (per_pass(layer_sum(t_ops, "h5ad_decode_task_ms")), "ms"),
        "sources.readback_ms": (span_ms("sources.readback"), "ms"),
        "sources.scan_bytes": (per_pass(layer_sum(t_ops, "scan_bytes")), "B"),
        "sources.scan_rows": (per_pass(layer_sum(t_ops, "scan_rows")), "count"),
        "construct.ms": (per_pass(sum(o["construct_ns"] for o in t_ops) / 1e6), "ms"),
        "construct.jobs": (per_pass(layer_sum(t_ops, "jobs", ("construct",))), "count"),
        "construct.task_ms": (per_pass(layer_sum(t_ops, "task_ms", ("construct",))), "ms"),
        "construct.ops_with_jobs": (per_pass(sum(
            1 for o in t_ops if o["counters"].get("construct", {}).get("jobs", 0) > 0)), "count"),
        "plan.ms": (per_pass(sum(p["ms"] for p in plan)), "ms"),
        "plan.exchanges": (per_pass(sum(p["exchanges"] for p in plan)), "count"),
        "plan.broadcasts": (per_pass(sum(p["broadcasts"] for p in plan)), "count"),
        "plan.global_windows": (per_pass(sum(p["global_windows"] for p in plan)), "count"),
        "exec.ms": (exec_ms, "ms"),
        "exec.jobs": (ex("jobs"), "count"),
        "exec.stages": (stages, "count"),
        "exec.tasks": (ex("tasks"), "count"),
        "exec.sched_delay_ms": (ex("sched_delay_ms"), "ms"),
        "exec.task_ms": (ex("task_ms"), "ms"),
        "exec.cpu_ms": (ex("cpu_ms"), "ms"),
        "exec.slot_busy_frac": (ex("task_ms") / (exec_ms * cores) if exec_ms else 0.0, "ratio"),
        "exec.stages_skipped_frac": ((stages - ex("stages_run")) / stages if stages else 0.0, "ratio"),
        "exec.shuffle_write_bytes": (ex("shuffle_write_bytes"), "B"),
        "exec.shuffle_read_bytes": (ex("shuffle_read_bytes"), "B"),
        "exec.spill_bytes": (ex("spill_bytes"), "B"),
        "exec.failed_tasks": (per_pass(layer_sum(t_ops, "failed_tasks")), "count"),
        "sink.write_ms": (per_pass(layer_sum(t_ops, "write_job_ms", ("product.build",))), "ms"),
        "sink.bytes_written": (per_pass(layer_sum(t_ops, "write_bytes", ("product.build",))), "B"),
        "sink.files_written": (per_pass(sum(o.get("files_written", 0) for o in t_ops)), "count"),
        "sink.rows_written": (per_pass(layer_sum(t_ops, "write_rows", ("product.build",))), "count"),
        "jvm.jit_ms": (passes[0]["jit_ms"], "ms"),
        "jvm.codecache_mb": (raw["end"]["codecache_mb"], "MB"),
        "jvm.gc_ms": (per_pass(sum(p["gc_ms"] for p in timed)), "ms"),
        "jvm.heap_peak_mb": (raw["end"]["heap_peak_mb"], "MB"),
        "trace.overhead_frac": (M.trace_overhead(
            [(p["wall_ns"], p["traced"]) for p in timed]), "ratio"),
    }
    for name in SPAN_NAMES:
        out[f"self.{name}_ms"] = (selfs.get(name, 0) / 1e6 / max(1, len(traced)), "ms")
    return out


def context(raw, nproc):
    """Per-pass run context, and the reasons the run may be contaminated."""
    rows, reasons = [], []
    for p in raw["passes"]:
        wall_ticks = p["wall_ns"] / 1e9 * 100 * nproc
        share = p["box_nonself_ticks"] / wall_ticks if wall_ticks else 0.0
        rows.append({"pass": p["idx"], "kind": p["kind"], "other_jvms": len(p["other_jvms"]),
                     "box_nonself_cpu_s": p["box_nonself_ticks"] / 100.0,
                     "box_nonself_share": round(share, 4),
                     "steal_share": round(p["steal_ticks"] / wall_ticks if wall_ticks else 0.0, 4)})
        if p["other_jvms"]:
            reasons.append(f"pass {p['idx']}: other live JVMs {p['other_jvms']}")
        if share > CONTAMINATION_SHARE:
            reasons.append(f"pass {p['idx']}: other processes used {share:.0%} of the box")
    return {"nproc": nproc, "passes": rows, "contaminated": bool(reasons), "reasons": reasons}


def main(argv=None):
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    start = time.time()
    deadline = start + RUN_TIMEOUT_S
    try:
        cp = build.build(ROOT)
    except build.BuildError as e:
        print(e, file=sys.stderr)
        return 2
    deadline = max(deadline, time.time() + 150)  # a first build may be slow
    cp.insert(2, os.path.join(ROOT, "src", "main", "resources"))
    bb = os.path.join(ROOT, ".bench_build")
    work = os.path.join(bb, "runs", f"{a.workload}-trace{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    nproc = len(os.sched_getaffinity(0))
    jargs = {"workload": a.workload, "seconds": a.seconds, "trace": a.trace,
             "cpus": nproc, "work": work, "out": os.path.join(work, "raw.json")}
    if a.workload == "atac_product":
        jargs.update(atac=os.path.join(bb, "atac", f"seed{a.seed}-d{ATAC_DATASETS}-c{ATAC_CELLS}"), seed=a.seed,
                     datasets=ATAC_DATASETS, cells=ATAC_CELLS)
    else:
        data = ensure_tables(bb)
        ops = read_list()
        random.Random(a.seed).shuffle(ops)
        jargs.update(data=data, ops=",".join(ops))
    try:
        raw = run_jvm(cp, jargs, work, deadline)
    except RuntimeError as e:
        print(e, file=sys.stderr)
        return 3
    if a.workload == "atac_product":
        check_atac(raw)
    else:
        check_mix(raw, data, bb)
    ops_all = raw["ops"]
    failures = sorted({f"{o['name']}: {o['failure']}" for o in ops_all if o.get("failure")})
    ctx = context(raw, nproc)
    e2e = end_to_end(raw, ops_all)
    layers = per_layer(raw, ops_all)
    chosen = layers if a.trace else e2e
    samples = sum(1 for o in ops_all if o["pass"] in {
        p["idx"] for p in raw["passes"] if p["kind"] == "timed" and not p["traced"]})
    report = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "op_samples": samples,
              "op_percentile_supported": M.highest_percentile(samples),
              "failures": failures, "context": ctx,
              "end_to_end": e2e, "per_layer": layers}
    with open(os.path.join(work, "report.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    if a.trace:
        with open(os.path.join(work, "spans.json"), "w") as fh:
            json.dump({"columns": ["id", "parent", "pass", "op", "name", "start_ns", "end_ns"],
                       "spans": raw["spans"],
                       "counters": {o["op"]: o["counters"] for o in ops_all}}, fh)
    for f in failures:
        print(f"FAILED {f}")
    print("context " + json.dumps(ctx))
    for k, (v, unit) in chosen.items():
        print(f"{k} = {v:.6g} {unit}")
    print(f"correct = {not failures}  attempted = {len(ops_all)}  failed = "
          f"{sum(1 for o in ops_all if o.get('failure'))}  op samples = {samples} "
          f"(highest percentile with ten beyond: {M.highest_percentile(samples)})")
    print(json.dumps({
        "correct": not failures, "attempted": len(ops_all),
        "failed": sum(1 for o in ops_all if o.get("failure")),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
