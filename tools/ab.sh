#!/usr/bin/env bash
# Same-host A/B of the benchmark: the working tree against a parent commit.
#
#   tools/ab.sh PARENT_REF WORKLOAD N
#
# Checks PARENT_REF out into a throwaway clone, gives each side its own
# CARGO_TARGET_DIR (so builds, corpora and run records never mix), runs N
# pairs of `perfbench/run.py --workload WORKLOAD`, alternating which side
# runs first and giving every pair a fresh seed, then prints
# `perfbench/compare.py` over the two record sets.
#
# Environment:
#   AB_DIR      where the clone, both build dirs and the records go
#               (default: a new temporary directory; kept for inspection)
#   AB_SEED0    seed of the first pair; pair i uses AB_SEED0 + i
#               (default: derived from the clock, so each call is fresh)
#   AB_SECONDS  --seconds per run (default: BENCHMARK.json's run_seconds)
#
# Run from the repository root. Exit status is compare.py's (1 if a metric
# regressed), or 2 on a usage or checkout error.
set -euo pipefail

if [ $# -ne 3 ]; then
  echo "usage: tools/ab.sh PARENT_REF WORKLOAD N" >&2
  exit 2
fi
parent_ref=$1 workload=$2 n=$3
repo=$(git rev-parse --show-toplevel)
parent_sha=$(git -C "$repo" rev-parse --verify "$parent_ref^{commit}") || exit 2
ab_dir=${AB_DIR:-$(mktemp -d -t graft-ab.XXXXXX)}
seed0=${AB_SEED0:-$(( $(date +%s) % 100000 ))}
seconds=${AB_SECONDS:-$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' "$repo/BENCHMARK.json")}

mkdir -p "$ab_dir"
parent_src="$ab_dir/parent-src"
if [ ! -d "$parent_src" ]; then
  git clone --quiet --no-checkout "$repo" "$parent_src"
fi
git -C "$parent_src" checkout --quiet --detach "$parent_sha"

echo "ab: parent $parent_sha vs working tree of $repo; $workload x $n pairs," \
  "seeds $seed0..$((seed0 + n - 1)), ${seconds}s per run; records under $ab_dir" >&2

failed=0
run_side() { # side seed
  local side=$1 seed=$2 src
  if [ "$side" = parent ]; then src=$parent_src; else src=$repo; fi
  echo "ab: $side seed $seed" >&2
  if ! (cd "$src" && CARGO_TARGET_DIR="$ab_dir/$side-build" \
      python3 perfbench/run.py --workload "$workload" --seed "$seed" \
        --seconds "$seconds" --trace 0 | tail -n 1 >&2); then
    echo "ab: $side seed $seed failed" >&2
    failed=$((failed + 1))
  fi
}

for ((i = 0; i < n; i++)); do
  seed=$((seed0 + i))
  if ((i % 2 == 0)); then
    run_side parent "$seed"; run_side change "$seed"
  else
    run_side change "$seed"; run_side parent "$seed"
  fi
done

echo "ab: $failed failed run(s); compare (base = parent, change = working tree):" >&2
python3 "$repo/perfbench/compare.py" --spec "$repo/BENCHMARK.json" \
  "$ab_dir/parent-build/records/$workload.jsonl" \
  "$ab_dir/change-build/records/$workload.jsonl"
