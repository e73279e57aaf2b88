#!/usr/bin/env bash
# Full oracle sweep: Verify + DuckDB selfcheck at ALL generated scale
# factors (the driver gate only checks sf0.01; scale-dependent drift —
# sketch error growth, decimal overflow — hides at the other SFs).
set -euo pipefail
cd "$(dirname "$0")/.."
# Args: zero or more sf DIRS (default: the three driver-generated SFs).
# Out-of-tree corpora work too: `tools/sweep.sh /tmp/sf1` runs the full
# 113-query oracle sweep at sf1 (generate it with tools/gen_sf.py first).
dirs=("$@")
if [ ${#dirs[@]} -eq 0 ]; then
  dirs=(/root/testdata/sf0.001 /root/testdata/sf0.01 /root/testdata/sf0.1)
fi
# Declared-adjudicator queries (VERDICT r16 item 5): q111's recursive
# reachability CTE is quadratic in component size — it OOMs any bounded
# DuckDB budget at sf>=1 percolation, so the linear label-prop checker IS
# its oracle there. At the GATE SFs (sf0.*) the CTE is cheap, so it KEEPS
# running alongside the adjudicator (ADVICE r17: skipping it everywhere
# would leave checker drift invisible — the stored oracle stays the
# adjudicator's ongoing cross-validation where it fits).
# Future component-label queries join this list with their checker.
ADJUDICATED="q111_embedding_clusters"
# Resume provenance for Verify's _GRAFT_STAMP (ADVICE r17): dumps are
# evidence only for the code that produced them.
# env override: pin the evidence sha when the only commits since
# are non-data-plane (tools/bench) — document the diff in PLANS.md.
GRAFT_CODE_SHA="${GRAFT_CODE_SHA:-$(git rev-parse HEAD 2>/dev/null || echo unset)}"
export GRAFT_CODE_SHA
adjudicate() { # $1=query $2=sfdir $3=dumpdir -> prints checker verdict
  case "$1" in
    q111_embedding_clusters) python3 tools/check_clusters_scaled.py "$2" "$3" 2>&1 ;;
    *) echo "FAIL $1: no adjudicator declared" ;;
  esac
}
for dir in "${dirs[@]}"; do
  sf=$(basename "$dir")
  out="/tmp/graft_sweep_$sf"
  # Verify prints per-query failures to STDERR — keep the combined stream
  fails=$(SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-8} bash tools/run.sh graft.Verify \
    "$dir" "$out" 2>&1 | grep -E "\[verify\].*failed" || true)
  if [ -n "$fails" ]; then echo "$fails"; echo "== $sf: VERIFY FAILURES"; exit 1; fi
  # `|| true`: selfcheck exits 1 when ANY query fails, and under set -e a
  # bare $(…) assignment would abort the script right here — discarding
  # the captured output (r16 finding: the first sf1 sweep died exactly
  # this way, losing a 75-minute oracle run's verdict). Failures are
  # judged from the captured text, not the exit code.
  # Gate SFs (sf0.*): empty skip list — the recursive-CTE oracle runs in
  # selfcheck AND the adjudicator runs below (cross-validation). sf>=1:
  # the CTE is structurally infeasible, the adjudicator alone decides.
  case "$sf" in
    sf0.*) skip="" ;;
    *)     skip="$ADJUDICATED" ;;
  esac
  res=$(GRAFT_SELFCHECK_SKIP="$skip" \
    python3 tools/selfcheck.py "$dir" "$out" 2>&1 || true)
  summary=$(echo "$res" | tail -1)
  if ! echo "$summary" | grep -qE "pass / [0-9]+ fail"; then
    echo "$res" | tail -5; echo "== $sf: SELFCHECK CRASHED (no summary line)"; exit 1
  fi
  nfail=$(echo "$res" | grep -c '^FAIL' || true)
  # First-class adjudicator step for the declared queries — same verdict
  # weight as a DuckDB row, at every SF.
  for q in $ADJUDICATED; do
    v=$(adjudicate "$q" "$dir" "$out" | grep -E "^(PASS|FAIL) $q" || true)
    if echo "$v" | grep -q "^PASS $q"; then
      summary="$summary + $q adjudicated PASS"
    else
      summary="$summary + $q adjudicated FAIL"
      res="$res
FAIL $q: adjudicator says: ${v:-no verdict line}"
      nfail=$((nfail + 1))
    fi
  done
  echo "== $sf: $summary"
  # Real failures must fail the sweep (previously only printed): the gate
  # value of this script is its exit code.
  if [ "$nfail" -gt 0 ]; then echo "$res" | grep '^FAIL'; exit 1; fi
done
# Seeded oracle fuzz (VERDICT r14 item 5): 50 parameterized instances at
# sf0.01 — catches tiebreak/rounding drift BETWEEN the registry's fixed
# points. GRAFT_FUZZ_SEED varies the batch; default reproduces the pinned
# r15 evidence run.
fuzzline=$(python3 tools/fuzz_oracle.py /root/testdata/sf0.01 50 \
  "${GRAFT_FUZZ_SEED:-42}" 2>&1 | tail -1 || true)
echo "== fuzz: $fuzzline"
# Same exit-code discipline as the SF loop: a FAIL verdict (or a crash
# that produced no verdict) must fail the sweep, not just print.
echo "$fuzzline" | grep -q "^PASS fuzz" || exit 1
