#!/usr/bin/env python3
"""Re-derive the membership list of the eager query mix.

Runs every registered query twice, each time against a fresh snapshot
directory of the mix tables (so per-path memos miss), and records the Spark
jobs each construction call starts. Writes perfbench/lists/derivation.tsv with one
row per query; run.py does not read it, it is the evidence behind the lists.

The rule: a query is eager when its construction call starts at least one Spark
job on both passes. Ordered by the jobs its construction call started on the
second pass, ties broken by name, the eager queries at the quartiles
(25 %, 50 %, 75 %) of that order make eager_mix.txt, spanning few to many
construction jobs. Job counts, unlike timings, do not depend on how busy
the box is, so the same code and tables give the same list. The list is
short because a run, first pass included, must fit the benchmark's run
length on 4 cores.

Usage: python3 perfbench/derive_lists.py   (the JVM run takes about 20 minutes on 4 cores)
"""
import os
import shutil
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


LISTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "lists")
TABLE = os.path.join(LISTS, "derivation.tsv")


def choose(rows):
    """The eager_mix names from the derivation table's rows."""
    eager = sorted((r for r in rows if min(r["jobs"]) > 0),
                   key=lambda r: (r["jobs"][1], r["query"]))
    return [eager[round(q * (len(eager) - 1))]["query"] for q in (0.25, 0.5, 0.75)]


def write_list(members):
    doc = __doc__.split("The rule:")[1].split("Usage:")[0].strip()
    with open(os.path.join(LISTS, "eager_mix.txt"), "w") as fh:
        fh.write(f"# Chosen by perfbench/derive_lists.py from derivation.tsv "
                 f"(tables at scale {run.MIX_SF}).\n")
        fh.write("".join(f"# {ln}\n" for ln in ("The rule: " + doc).splitlines()))
        fh.write("".join(f"{m}\n" for m in members))
    print(f"eager_mix: {len(members)} queries")


def main():
    cp = build.build(run.ROOT)
    cp.insert(2, os.path.join(run.ROOT, "src", "main", "resources"))
    bb = os.path.join(run.ROOT, ".bench_build")
    work = os.path.join(bb, "runs", "derive")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    raw = run.run_jvm(cp, {
        "workload": "eager_mix", "seconds": 0, "trace": 0,
        "cpus": len(os.sched_getaffinity(0)), "work": work,
        "out": os.path.join(work, "raw.json"), "data": run.ensure_tables(bb),
        "ops": "*"}, work, time.time() + 3600)
    by_name = {}
    for o in raw["ops"]:
        by_name.setdefault(o["name"], []).append(o)
    rows = []
    with open(TABLE, "w") as fh:
        fh.write("query\tconstruct_jobs_pass1\tconstruct_jobs_pass2\t"
                 "construct_ms_pass2\texec_ms_pass2\terror\n")
        for name in sorted(by_name):
            a, b = by_name[name]
            jobs = [o["counters"].get("construct", {}).get("jobs", 0) for o in (a, b)]
            rows.append({"query": name, "jobs": jobs})
            fh.write(f"{name}\t{jobs[0]}\t{jobs[1]}\t{b['construct_ns'] / 1e6:.0f}\t"
                     f"{b['exec_ns'] / 1e6:.0f}\t{(a['error'] or b['error'])[:80]}\n")
    write_list(choose(rows))


if __name__ == "__main__":
    main()
