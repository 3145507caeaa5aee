#!/usr/bin/env bash
# Round-finalization discipline (round-12 verdict item 2): every artifact is
# generated AT the round's final HEAD, in order, and carries that commit hash
# inside its JSON — SF1_r11.json was produced one commit before final HEAD
# and the judge had to adjudicate by reading spec coverage; this script makes
# that class of drift impossible to miss.
#
# Order: correctness gate (sf0.01) -> sf0.1 bench -> sf1 bench -> slope ->
# sf1 oracle gate. Run AFTER the last code commit of the round; if any code
# change follows, run it again.
#
# Usage: tools/finalize_round.sh <round-number> [sf1dir]
set -euo pipefail
RND="${1:?usage: finalize_round.sh <round-number> [sf1dir]}"
SF1DIR="${2:-/tmp/sfdata/sf1}"
REPO="$(cd "$(dirname "$0")/.." && pwd)"
cd "$REPO"

if ! git diff --quiet || ! git diff --cached --quiet; then
  echo "[finalize] refusing to run with uncommitted changes — artifacts must" \
       "describe a commit, not a working tree" >&2
  exit 1
fi
COMMIT="$(git rev-parse --short HEAD)"
export SPARK_GRAFT_COMMIT="$COMMIT"
echo "[finalize] round $RND at commit $COMMIT"

# 1. correctness gate at sf0.01 (the driver's contract)
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/verify_out_r$RND"
python3 tools/compare.py /root/testdata/sf0.01 "/tmp/verify_out_r$RND"

# Bench runner with a contention retry (round-13 verdict item 8): if the
# canary flags the pass as contended, run once more — the committed
# tools/last_bench_<sf>.json and the round artifact must never be a
# flagged-dirty measurement. A second contended pass aborts finalize: fix
# the machine load and re-run rather than shipping a dirty artifact.
run_bench() { # $1 = env assignments (string), $2 = out prefix
  local attempt
  for attempt in 1 2; do
    env $1 sbt -batch -Dsbt.log.noformat=true "runMain graft.Bench" | tee "$2.txt"
    # Contract: the LAST stdout line of the Bench run is the full "metric"
    # record. Drop only sbt's own [info]/[success]/... framing around the
    # run, then take the last line. Never grep for the record: that is how
    # a trailing non-record line once slipped past unnoticed.
    grep -Ev '^\[(info|warn|error|success)\] ' "$2.txt" | tail -n 1 > "$2.json" || true
    if ! python3 -c "import json,sys; sys.exit('metric' not in json.load(open(sys.argv[1])))" \
        "$2.json" 2>/dev/null; then
      echo "[finalize] the last stdout line of the Bench run is not a" \
           "\"metric\" record — the bench contract is broken:" >&2
      cat "$2.json" >&2
      exit 1
    fi
    local contended
    contended="$(python3 -c "import json;print(json.load(open('$2.json')).get('contended'))")"
    if [ "$contended" != "True" ] && [ "$contended" != "true" ]; then
      return 0
    fi
    echo "[finalize] bench pass flagged contended (attempt $attempt) — retrying" >&2
  done
  echo "[finalize] two contended bench passes in a row: the machine is" \
       "loaded; aborting rather than stamping a dirty artifact" >&2
  exit 1
}

# 2. sf0.1 bench (Bench stamps SPARK_GRAFT_COMMIT into its JSON line)
run_bench "SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1" "/tmp/bench_sf01_r$RND"

# 3. sf1 bench (q70 skipped by design: output-quadratic; twin q147 is swept)
run_bench "SPARK_GRAFT_SF_DIR=$SF1DIR SPARK_GRAFT_SKIP=q70_" "/tmp/bench_sf1_r$RND"

# 4. slope artifact (stamps its own git hash; verify it matches)
python3 tools/bench_slope.py "/tmp/bench_sf01_r$RND.json" \
  "/tmp/bench_sf1_r$RND.json" "BENCH_SF1_r$RND.json" "$RND"

# 5. sf1 oracle gate (stamps its own git hash)
python3 tools/sf1_gate.py "$RND" "$SF1DIR"

# cross-check: every artifact names THIS head
for f in "BENCH_SF1_r$RND.json" "SF1_r$RND.json"; do
  got="$(python3 -c "import json;print(json.load(open('$f')).get('commit','missing'))")"
  if [ "$got" != "$COMMIT" ]; then
    echo "[finalize] $f carries commit $got, expected $COMMIT" >&2
    exit 1
  fi
done
for f in "/tmp/bench_sf01_r$RND.json" "/tmp/bench_sf1_r$RND.json"; do
  got="$(python3 -c "import json;print(json.load(open('$f')).get('commit','missing'))")"
  if [ "$got" != "$COMMIT" ]; then
    echo "[finalize] $f carries commit $got, expected $COMMIT" >&2
    exit 1
  fi
done
# 6. cross-round reference min-ratchet (round-12 verdict item 2): the bar
# only moves DOWN, and only from an uncontended pass — update_bench_refs.py
# refuses contended artifacts, so a loaded machine can't touch the refs
python3 tools/update_bench_refs.py "/tmp/bench_sf01_r$RND.json" tools/bench_ref_sf0.1.json
python3 tools/update_bench_refs.py "/tmp/bench_sf1_r$RND.json" tools/bench_ref_sf1.json

echo "[finalize] round $RND artifacts complete and stamped at $COMMIT"
echo "[finalize] NOTE: tools/bench_ref_*.json were min-ratcheted in the" \
     "working tree — review and commit them (artifact-only commit)"
