#!/usr/bin/env bash
# Round-end gate: the registry-wide sweeps that MUST be green after the
# last operator commit and before the round snapshot. Round 4 shipped its
# final-commit operator with a red empty-input sweep because this was a
# mid-round habit, not a gate — this script makes it one command.
#
# Round 6 shipped an operator AFTER the recorded final gate (same
# loophole, green only by luck), so the gate is now structurally last:
#   * every gate entry records the HEAD sha and whether engine paths
#     (cdc_export_system_spark/ __spark_entry__.py tests/) were dirty;
#   * a FINAL gate refuses to run on a dirty engine tree;
#   * a FINAL gate also runs the full test tier (`-m "slow or not slow"`);
#   * `round_gate.sh --check-final` exits non-zero unless the engine
#     tree at HEAD is byte-identical to the last recorded FINAL gate —
#     i.e. any post-gate engine commit makes the round visibly ungated
#     until the gate is re-run.
#
# Usage:  bash scripts/round_gate.sh [round_label]        # mid-round gate
#         bash scripts/round_gate.sh --final [label]      # round-end gate
#         bash scripts/round_gate.sh --check-final        # verify ordering
# Writes: docs/ROUND_GATE.md (appends a dated green/red record)
set -uo pipefail
cd "$(dirname "$0")/.."

LOG="docs/ROUND_GATE.md"
ENGINE_PATHS=(cdc_export_system_spark __spark_entry__.py tests bench.py)

if [ "${1:-}" = "--check-final" ]; then
  SHA=$(grep -oE 'FINAL @ [0-9a-f]+' "$LOG" | tail -1 | awk '{print $3}')
  if [ -z "$SHA" ]; then echo "check-final: no FINAL gate recorded"; exit 1; fi
  if ! git diff --quiet "$SHA" HEAD -- "${ENGINE_PATHS[@]}"; then
    echo "check-final: ENGINE CHANGED since FINAL gate @ $SHA — re-run the gate"
    git diff --stat "$SHA" HEAD -- "${ENGINE_PATHS[@]}"
    exit 1
  fi
  if ! git status --porcelain -- "${ENGINE_PATHS[@]}" | grep -q .; then
    echo "check-final: OK — engine tree matches FINAL gate @ $SHA"
    exit 0
  fi
  echo "check-final: engine tree DIRTY vs FINAL gate @ $SHA"
  exit 1
fi

FINAL=0
if [ "${1:-}" = "--final" ]; then FINAL=1; shift; fi
LABEL="${1:-unlabeled}"
START=$(date -u +"%Y-%m-%dT%H:%M:%SZ")
HEAD_SHA=$(git rev-parse --short HEAD)
DIRTY=$(git status --porcelain -- "${ENGINE_PATHS[@]}" | head -1)

if [ "$FINAL" -eq 1 ] && [ -n "$DIRTY" ]; then
  echo "FINAL gate refused: engine tree dirty — commit first so the gate"
  echo "record pins an exact sha. ($DIRTY ...)"
  exit 1
fi

run() { # name, cmd...
  local name="$1"; shift
  echo "=== $name: $*"
  if "$@"; then RESULTS+=("- $name: GREEN"); else
    RESULTS+=("- $name: **RED**"); FAILED=1; fi
}

RESULTS=()
FAILED=0
run "scalar-guard lint"    python -m pytest tests/test_scalar_guard_lint.py -q
run "entry contract"       python -m pytest tests/test_entry_contract.py -q
run "empty-input sweep"    python -m pytest tests/test_empty_inputs.py -q
run "oracle parity sweep"  python -m pytest tests/test_oracle_parity.py -q
run "partition sweep (5)"  python scripts/partition_sweep.py 5
# round close only: the whole suite, including the slow tier that the
# default `pytest tests/` run deselects (pytest.ini addopts)
if [ "$FINAL" -eq 1 ]; then
  run "full test tier"     python -m pytest tests/ -q -m "slow or not slow" -p no:cacheprovider
fi

MARK=""
if [ "$FINAL" -eq 1 ] && [ "$FAILED" -eq 0 ]; then MARK=" — FINAL @ ${HEAD_SHA}"; fi
{
  echo ""
  echo "## Gate run: ${LABEL} — ${START} (HEAD ${HEAD_SHA}$( [ -n "$DIRTY" ] && echo ', engine DIRTY'))"
  echo ""
  printf '%s\n' "${RESULTS[@]}"
  if [ "$FAILED" -eq 0 ]; then echo ""; echo "**GATE GREEN${MARK}**"; else
    echo ""; echo "**GATE RED — do not snapshot**"; fi
} >> "$LOG"

printf '%s\n' "${RESULTS[@]}"
[ "$FAILED" -eq 0 ] && echo "GATE GREEN${MARK}" || { echo "GATE RED"; exit 1; }
