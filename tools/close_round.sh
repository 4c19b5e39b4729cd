#!/bin/bash
# Round-close ritual (VERDICT r9 item 1: a red test shipped in round 9's
# final commit because the last batch skipped a full suite run).
# Run this BEFORE the closing commit; it fails fast on the first red gate.
#
#   1. full `sbt test` (all suites)
#   2. full graft.Verify + DuckDB selfcheck at sf0.01 (the driver's gate)
#   3. full bench sweep at sf0.1 (refreshes bench/bench_latest.json AND
#      snapshots it to bench/bench_${ROUND}_record.json — the driver's
#      per-round sweep overwrites bench_latest.json, which destroyed the
#      round-10 record run; the tagged snapshot survives)
#   4. pinned 60-query headline set at sf1 (isolated, 2-pass) →
#      bench/bench_${ROUND}_headline_sf1.json, gated at ≤1.2x median
#      per-query ratio vs the previous round's sf1 headline file
#      (VERDICT r10 item 4: per-op sf1 rows existed but no cross-round
#      pinned set ran at sf1)
#
# Usage: GRAFT_ROUND=r11 tools/close_round.sh
set -euo pipefail
cd "$(dirname "$0")/.."
# GRAFT_ROUND is REQUIRED: a hardcoded default would silently overwrite
# the PREVIOUS round's immutable record/headline snapshots when someone
# runs the ritual bare in a later round — destroying exactly what the
# tagged artifacts exist to protect.
if [ -z "${GRAFT_ROUND:-}" ]; then
  echo "GRAFT_ROUND is required (e.g. GRAFT_ROUND=r12 tools/close_round.sh)" >&2
  exit 2
fi
ROUND="$GRAFT_ROUND"

echo "== 1/4 sbt test"
sbt -batch test

echo "== 2/4 Verify + selfcheck @ sf0.01"
sbt -batch package
bash tools/run_verify.sh /root/testdata/sf0.01 /tmp/close_round_verify
python3 tools/selfcheck.py /root/testdata/sf0.01 /tmp/close_round_verify \
  | tail -3 | tee /tmp/close_round_selfcheck.txt
grep -q ", 0 fail" /tmp/close_round_selfcheck.txt \
  || { echo "SELFCHECK RED — do not commit"; exit 1; }

echo "== 3/4 full bench sweep @ sf0.1 (record tagged ${ROUND}_record)"
SPARK_GRAFT_SF_DIR=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1} \
  SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32} \
  SPARK_GRAFT_BENCH_TAG="${ROUND}_record" \
  bash tools/run_bench.sh | tail -1
# the record sweep's own failed array must be empty: a fail-fast timing
# would otherwise ride into the round record as a phantom speedup
python3 - "bench/bench_${ROUND}_record.json" <<'EOF'
import json, sys
d = json.load(open(sys.argv[1]))
failed = d.get("failed", [])
if failed:
    print(f"RECORD SWEEP RED — failed queries: {', '.join(failed)}")
    sys.exit(1)
jvms = d.get("concurrent_jvms", [])
if jvms:
    print(f"RECORD SWEEP RED — concurrent JVMs contaminated the run: {jvms}")
    sys.exit(1)
print(f"record sweep: failed=[] concurrent_jvms=[] ok "
      f"({d['n_queries']} queries, {d['value']}s)")
EOF

echo "== 4/4 sf1 headline set (pinned cross-round gate)"
if [ ! -d target/testdata/sf1 ]; then
  echo "generating sf1 testdata (one-time)"
  python3 tools/gen_sf.py 1 target/testdata/sf1
fi
SPARK_GRAFT_SF_DIR=target/testdata/sf1 SPARK_GRAFT_CPUS=32 \
  SPARK_GRAFT_BENCH_OUT="bench/bench_${ROUND}_headline_sf1.json" \
  bash tools/run_bench.sh --headline | tail -1
# version sort, not lexicographic: r9 < r10 < r100 must order correctly.
# Exclude the current round by EXACT filename (grep -vx): substring
# exclusion mis-fires when one round id is a prefix of another
# (GRAFT_ROUND=r1 would drop r10/r11 files too).
PREV=$(ls bench/bench_r*_headline_sf1.json 2>/dev/null \
  | grep -vx "bench/bench_${ROUND}_headline_sf1.json" \
  | sort -V | tail -1 || true)
if [ -n "$PREV" ]; then
  GRAFT_ROUND="$ROUND" \
  python3 - "$PREV" "bench/bench_${ROUND}_headline_sf1.json" <<'EOF'
import json, os, statistics, sys
oldd = json.load(open(sys.argv[1]))
newd = json.load(open(sys.argv[2]))
old, new = oldd["queries"], newd["queries"]
# A query timed last round but FAILED (or silently absent) this round is
# red, not a dilution of the median: Bench excludes zero-success queries
# from "queries" and lists them in "failed" precisely so this gate can
# catch them.
failed = set(newd.get("failed", []))
broken = sorted((set(old) - set(new)) | (failed & set(old)))
if broken:
    print("SF1 HEADLINE GATE RED — queries timed in the prior round are "
          f"failed/missing now: {', '.join(broken)}")
    sys.exit(1)
if failed - set(old):
    # brand-new queries that fail have no prior to compare against but
    # are still red: they were added to the headline set to be timed
    print("SF1 HEADLINE GATE RED — new headline queries failed: "
          f"{', '.join(sorted(failed - set(old)))}")
    sys.exit(1)
print("sf1 headline: failed=[] ok — no fail-fast rides into the median")
# Documented-quadratic keys (VERDICT r15 item 4): ml_knn_classify is the
# exact brute-force ground truth for ml_knn_classify_ann — quadratic BY
# CONTRACT, 25-50 s at sf1 with 1.8x run-to-run swing that would hold
# the whole gate median hostage. It stays in headline.txt (still timed,
# still red if it FAILS above), but its wall-clock ratio is excluded
# from the median.
QUADRATIC_BY_CONTRACT = {"ml_knn_classify"}
common = sorted((set(old) & set(new)) - QUADRATIC_BY_CONTRACT)
ratios = {k: new[k] / max(old[k], 1e-9) for k in common}
# Second-chance rule (VERDICT r16 item 6): a key whose WALL ratio fired
# (>1.2) but whose cpu_ms ratio is <=1.2 is ambient-cleared — cpu_ms is
# CPU burned inside tasks, immune to the shared-box wall tax that has
# forced manual ambient adjudication every round since r4. The cleared
# key contributes its cpu ratio to the median instead of its wall
# ratio, and is listed so the clearing is on the record. Requires
# cpu_ms in BOTH records (recorded since r16); keys without it keep
# their wall ratio — the rule self-enables as old records age in.
old_at, new_at = oldd.get("attrib", {}), newd.get("attrib", {})
cleared = {}
for k in common:
    if ratios[k] > 1.2:
        oc = old_at.get(k, {}).get("cpu_ms")
        nc = new_at.get(k, {}).get("cpu_ms")
        if oc and nc and oc > 0:
            cr = nc / oc
            if cr <= 1.2:
                cleared[k] = (ratios[k], cr)
                ratios[k] = cr
if cleared:
    for k, (wr, cr) in sorted(cleared.items()):
        print(f"  ambient-cleared: {k} wall-ratio {wr:.2f} -> "
              f"cpu_ms-ratio {cr:.2f}")
med = statistics.median(ratios.values())
print(f"sf1 headline median per-query ratio vs {sys.argv[1]}: {med:.3f} "
      f"({len(common)} common queries, quadratic-by-contract excluded: "
      f"{', '.join(sorted(QUADRATIC_BY_CONTRACT))}; "
      f"{len(cleared)} ambient-cleared via cpu_ms)")
if med > 1.2:
    # FAIL LOUDLY (VERDICT r15 item 1): the r15 close gate fired inside
    # a backgrounded ritual and shipped unread in the snapshot commit.
    # A fired gate now writes a git-tracked marker carrying its own
    # adjudication evidence — worst keys plus the ambient-load fields
    # (box_nonself_ms/box_load1) that distinguish a real regression
    # from external load in the close window — so no later commit can
    # ride over it silently.
    round_id = os.environ.get("GRAFT_ROUND", "unknown")
    attrib = newd.get("attrib", {})
    worst = sorted(ratios.items(), key=lambda kv: -kv[1])[:8]
    nonself = [attrib[k].get("box_nonself_ms", -1)
               for k in common if k in attrib]
    nonself = [v for v in nonself if v >= 0]
    with open(f"bench/GATE_FIRED_{round_id}.md", "w") as f:
        f.write(f"# SF1 HEADLINE GATE FIRED — {round_id}\n\n")
        f.write(f"median per-query ratio {med:.3f} > 1.2 vs {sys.argv[1]}"
                f" ({len(common)} common keys)\n\n")
        if cleared:
            f.write("Already ambient-cleared via cpu_ms (wall fired, "
                    "CPU did not — these did NOT contribute their wall "
                    "ratio to the median above):\n")
            for k, (wr, cr) in sorted(cleared.items()):
                f.write(f"- {k}: wall {wr:.2f} -> cpu {cr:.2f}\n")
            f.write("\n")
        f.write("This file must not survive the round: either the gate "
                "run is re-measured clean (ambient contamination, see "
                "box_nonself_ms below) or the regression is named and "
                "fixed, the adjudication written into BASELINE.md, and "
                "this marker deleted.\n\n")
        f.write("Ambient check (read FIRST): box_nonself_ms median "
                f"{statistics.median(nonself) if nonself else 'n/a'} / "
                f"max {max(nonself) if nonself else 'n/a'} over the new "
                "run's common keys. High values = the close window was "
                "shared, not a code regression.\n\n")
        f.write("| key | ratio | prev s | now s | box_nonself_ms | "
                "cpu_ms | task_ms |\n|---|---|---|---|---|---|---|\n")
        for k, r in worst:
            a = attrib.get(k, {})
            f.write(f"| {k} | {r:.2f} | {old[k]:.2f} | {new[k]:.2f} | "
                    f"{a.get('box_nonself_ms', 'n/a')} | "
                    f"{a.get('cpu_ms', 'n/a')} | "
                    f"{a.get('task_ms', 'n/a')} |\n")
    print(f"SF1 HEADLINE GATE RED (median ratio > 1.2) — do not commit; "
          f"marker written to bench/GATE_FIRED_{round_id}.md")
    sys.exit(1)
EOF
else
  echo "no prior sf1 headline file — recording baseline for next round"
  # even a baseline recording must not contain fail-fasts
  python3 - "bench/bench_${ROUND}_headline_sf1.json" <<'EOF'
import json, sys
d = json.load(open(sys.argv[1]))
failed = d.get("failed", [])
if failed:
    print("SF1 HEADLINE GATE RED — failed queries: " + ", ".join(failed))
    sys.exit(1)
print("sf1 headline: failed=[] ok")
EOF
fi

echo "close_round: ALL GREEN"
