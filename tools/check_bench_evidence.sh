#!/bin/bash
# Round-end bench-evidence gate (round-15 verdict task 2).
#
# Rule it enforces: the committed canonical BENCH_full.json must either be
# sentinels-quiet, or the round must have committed a paired A/B
# adjudication artifact (AB_r{N-1}_r{N}.json) that cancels the drift via
# same-session alternation. Rounds 14 and 15 both left a drift-flagged
# canonical as the only full-suite sample of HEAD with no committed A/B —
# this script makes that gap a hard failure instead of a by-hand checklist
# item. Run it as the LAST step of the round-end artifact flow:
#
#   tools/check_bench_evidence.sh <round-number>
#
# Exit 0 = evidence rule satisfied; exit 1 = violation (message on stderr).
set -u
cd "$(dirname "$0")/.." || exit 1

ROUND="${1:?usage: check_bench_evidence.sh <round-number>}"
PREV=$((ROUND - 1))
BENCH=BENCH_full.json

fail() { echo "BENCH-EVIDENCE GATE FAIL: $*" >&2; exit 1; }

[ -f "$BENCH" ] || fail "$BENCH missing — no canonical bench for round $ROUND"
git ls-files --error-unmatch "$BENCH" >/dev/null 2>&1 \
  || fail "$BENCH exists but is not tracked — commit the canonical"

# the canonical must be the committed version, not a stale working copy
git diff --quiet HEAD -- "$BENCH" \
  || fail "$BENCH has uncommitted changes — commit the canonical first"

QUIET=$(python3 - "$BENCH" <<'EOF'
import json, sys
with open(sys.argv[1]) as f:
    b = json.load(f)
print(str(bool(b.get("sentinels_quiet", False))).lower())
EOF
) || fail "$BENCH is not parseable JSON"

if [ "$QUIET" = "true" ]; then
  echo "OK: $BENCH is sentinels-quiet — canonical stands on its own"
  exit 0
fi

AB="AB_r${PREV}_r${ROUND}.json"
git ls-files --error-unmatch "$AB" >/dev/null 2>&1 \
  || fail "$BENCH is drift-flagged (sentinels_quiet=false) and no committed \
$AB exists — run a paired A/B (perfbench/ab.py pair) and commit the \
result as $AB, or regenerate the canonical on a quiet box"

python3 -c "import json; json.load(open('$AB'))" 2>/dev/null \
  || fail "$AB exists but is not parseable JSON"

echo "OK: $BENCH is drift-flagged but committed $AB adjudicates the round"
exit 0
