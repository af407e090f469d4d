#!/bin/sh
# End-of-round artifact refresh checklist. Run from the repo root with
# the round number:
#
#   sh tools/round_close.sh 7            # fast artifacts (sf0.01)
#   sh tools/round_close.sh 7 --sf1      # + the full sf1 oracle gate
#
# Produces/refreshes, in order:
#   1. green pytest suite                 (correctness of non-relational adapters)
#      + perfbench/tests                  (the benchmark's event-log reader)
#   2. CORRECTNESS_LOCAL_r{N}.json        (all queries vs DuckDB oracles, sf0.01)
#   3. PLAN_AUDIT.md                      (physical-plan audit, exits nonzero on violations)
#   4. BENCH_local_r{N}.json              (informal local bench; the driver records
#                                          the official BENCH_r{N}.json itself)
#   5. (--sf1) CORRECTNESS_SF1_r{N}.json  (full oracle gate at sf1, segmented fresh
#                                          processes + auto-retry — regenerates
#                                          .localdata/sf1 if absent)
#
# Each step fails the script so a red artifact never silently ships.
set -e
N="${1:?usage: sh tools/round_close.sh <round-number> [--sf1]}"
R=$(printf 'r%02d' "$N")

# the full suite (pytest.ini deselects the slow tests by default), then
# the benchmark's event-log reader tests, which tests/ does not collect
python -m pytest tests/ -q -m "slow or not slow"
python3 -m pytest perfbench/tests -q
python tools/verify_local.py --out "CORRECTNESS_LOCAL_${R}.json" /root/testdata/sf0.01
python tools/plan_audit.py /root/testdata/sf0.01
python bench.py > "BENCH_local_${R}.json"
echo "round ${N} artifacts refreshed: CORRECTNESS_LOCAL_${R}.json PLAN_AUDIT.md BENCH_local_${R}.json"

if [ "$2" = "--sf1" ]; then
    [ -d .localdata/sf1 ] || python tools/make_testdata.py --sf 1 --out .localdata/sf1
    python tools/verify_segmented.py .localdata/sf1 --out "CORRECTNESS_SF1_${R}.json"
    echo "sf1 gate artifact: CORRECTNESS_SF1_${R}.json"
fi

# Leave the machine JVM-clean for the driver's own bench (VERDICT r7
# defect #1: BENCH_r07 inherited a still-draining builder JVM and read
# ~1.4x slow across the board). Wait up to 10 min for any Spark JVM to
# exit on its own — a builder-side gate may legitimately be finishing —
# then kill whatever remains. bench.py's block-until-clean guard is the
# second line of defense on the driver side.
python tools/drain_jvms.py --wait 600 --kill
echo "machine JVM-clean for the driver bench"
