#!/bin/sh
# Oracle gate at scale: every query the scale-class registry marks
# runnable (runnable_queries({"quadratic_listing"}) — the quadratic
# pair listings are gated through their scale-safe companions), in two
# segments run by tools/verify_segmented.py:
#   bulk - everything but the O(n^2)-oracle emb family, 12 queries per
#          fresh process;
#   solo - that emb family, one query per process with the large DuckDB
#          cap, run LAST so a wall-budget cutoff loses only the most
#          expensive tail.
# Both segments always run; they are merged into <out_dir>/correctness.json,
# which must cover exactly the runnable set. Exit status 0 means every
# query passed.
#
#   tools/sf10_gate.sh <sf_dir> <out_dir>
#
# Export VERIFY_ORACLE_STAGE_DIR (tools/materialize_oracle_stages.py)
# first at sf1 and above. The DuckDB caps are the sf10 settings.
set -e
[ $# -eq 2 ] || { echo "usage: $0 <sf_dir> <out_dir>" >&2; exit 2; }
SF=$1
OUT=$2
mkdir -p "$OUT"

python - "$OUT/sets.json" <<'PY'
import json, sys
sys.path.insert(0, ".")
from clearcare_data_pipeline_spark.queries import runnable_queries
solo_family = {"emb_lsh_buckets", "emb_lsh_recall", "emb_near_dup_pairs",
               "emb_ivf_topk", "emb_ivf_topk_nprobe2", "emb_ann_recall"}
runnable = runnable_queries({"quadratic_listing"})
sets = {"bulk": [n for n in runnable if n not in solo_family],
        "solo": [n for n in runnable if n in solo_family]}
json.dump(sets, open(sys.argv[1], "w"), indent=1)
print(f"bulk {len(sets['bulk'])}, solo {len(sets['solo'])}: {sets['solo']}")
PY

BULK=$(python -c "import json, sys; print(' '.join(json.load(open(sys.argv[1]))['bulk']))" "$OUT/sets.json")
SOLO=$(python -c "import json, sys; print(' '.join(json.load(open(sys.argv[1]))['solo']))" "$OUT/sets.json")

# a failing segment must not skip the next one: record and go on
status=0
python tools/verify_segmented.py "$SF" --out "$OUT/bulk.json" \
  --queries $BULK --mem 24GB --threads 6 --seg-size 12 \
  || status=1
python tools/verify_segmented.py "$SF" --out "$OUT/solo.json" \
  --queries $SOLO --mem 80GB --threads 6 --seg-size 1 \
  || status=1
python tools/merge_correctness.py --out "$OUT/correctness.json" \
  "$OUT/bulk.json" "$OUT/solo.json" || status=1

# the merged artifact must cover exactly the registry's runnable set
python - "$OUT/sets.json" "$OUT/correctness.json" <<'PY'
import json, sys
sets = json.load(open(sys.argv[1]))
want = set(sets["bulk"]) | set(sets["solo"])
got = set(json.load(open(sys.argv[2]))["queries"])
assert got == want, {"missing": sorted(want - got), "extra": sorted(got - want)}
print(f"gate covers all {len(want)} runnable queries")
PY
[ $status -eq 0 ] && echo SF10_GATE_PASSED
exit $status
