#!/usr/bin/env bash
# Round-18 FULL-REGISTRY sf100 adjudicated sweep (VERDICT r17 item 3):
# every oracle-backed registry query at the sf100 decade (600M lineitem /
# 100M events / 5M documents / 2M embeddings), with the documented
# adjudicator routing and an EXPLICIT budget line for each anchor whose
# exact oracle is structurally infeasible at this decade.
#
# Disk shape: a full sf100 registry dump is ~45 GB against this box's
# ~50 GB headroom, so the sweep dumps in SMALL BATCHES with
# `graft.Verify <sf> <dir> <names...>` (its oracle_sql.json covers exactly
# the batch), checks each batch, and deletes it before the next — at most
# one heavy result on disk at a time. GRAFT_VERIFY_COALESCE=0 keeps each
# result's natural partitioning, so no query's last stage collapses into
# a few writer tasks. Dumps therefore never persist across code versions
# (the sha-rotated PASS log is the resume state, not the dumps).
#
# Adjudicator routing (see each tool's docstring):
#   - default: tools/selfcheck_duck.py (in-DuckDB multiset compare via
#     tools/duckcompare.py — scan-side coerced-type chunking).
#   - q38: tools/check_lsh_banded.py (4,4)@0.35 — blockwise-BLAS exact.
#   - q110: tools/check_lsh_sampled.py (full-dump precision + sampled-cell
#     recall; the full re-enumeration preflights out at ~6e10 candidates).
#   - q111: tools/check_clusters_scaled.py (label-prop fixpoint; falls
#     back to the layered edge path over q110's just-verified dump when
#     in-DuckDB edge derivation preflights out — keep them in ONE batch).
#
# Anchor budget (documented ground-truth-by-design rows whose exact
# oracles are quadratic; see PLANS.md r12/r17 reclassifications):
#   - q33_dedup_simhash / q34_dedup_embedding: literal all-pairs oracles
#     (~2e12 / ~1.25e13 pairs at sf100) — no scaled adjudicator exists.
#   - q92_crosssource_dups: its edge set IS the exact all-pairs jaccard
#     relation (~12B joined rows at sf100); the r12 solo dump exhausted
#     this box's shuffle disk. Production analog swept via q32/q113.
#   - q31/q48/q60: adjudicated through sf10 by the chunked jaccard
#     relation; at sf100 each of the K chunk passes re-joins the full
#     ~12B-row shingle relation (the chunk filter applies to PAIRS, not
#     join work), so K passes cost ~K x the whole sf10 sweep — budgeted.
# Usage: tools/sweep100.sh [sfDir=/tmp/sf100] [dumpRoot=/tmp/v100] [logFile]
set -uo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/tmp/sf100}"; OUT="${2:-/tmp/v100}"; LOG="${3:-$OUT/selfcheck.log}"
mkdir -p "$OUT"; touch "$LOG"

# Resume provenance (ADVICE r17): evidence binds to the code that made it.
# env override: pin the evidence sha when the only commits since
# are non-data-plane (tools/bench) — document the diff in PLANS.md.
GRAFT_CODE_SHA="${GRAFT_CODE_SHA:-$(git rev-parse HEAD 2>/dev/null || echo unset)}"
export GRAFT_CODE_SHA
if [ -s "$LOG" ] && [ "$(head -1 "$LOG")" != "# sha $GRAFT_CODE_SHA" ]; then
  mv "$LOG" "$LOG.stale.$(date +%s)" 2>/dev/null || true
  echo "[sweep100] rotated stale resume log (sha changed)" >&2
fi
[ -s "$LOG" ] || echo "# sha $GRAFT_CODE_SHA" > "$LOG"

# Scope hygiene (ADVICE r14): a sweep is always full-scope.
unset GRAFT_RECALL_ONLY

# Disk safety (VERDICT r13 item 2).
if [ -z "${GRAFT_DUCK_TMP:-}" ]; then
  best=$(df -P /tmp /var/tmp "$OUT" 2>/dev/null | awk 'NR>1 {print $4, $6}' \
    | sort -rn | head -1 | awk '{print $2}')
  export GRAFT_DUCK_TMP="${best:-/tmp}/duck_spill"
fi
mkdir -p "$GRAFT_DUCK_TMP"
free_gb=$(df -P "$GRAFT_DUCK_TMP" | awk 'NR==2 {print int($4/1048576)}')
echo "[sweep100] spill dir $GRAFT_DUCK_TMP (${free_gb} GB free)" >&2
if [ "$free_gb" -lt 25 ]; then
  echo "[sweep100] ABORT: ${free_gb} GB free is below the 25 GB floor" >&2
  exit 1
fi

# Registry manifest: the CURRENT code's query names + oracle SQL, from a
# quick stamped sf0.001 dump (seconds when already current).
GRAFT_VERIFY_RESUME=1 SPARK_GRAFT_CPUS=8 \
  bash tools/run.sh graft.Verify /root/testdata/sf0.001 "$OUT/_manifest" \
  2>&1 | tail -1
if [ ! -f "$OUT/_manifest/oracle_sql.json" ]; then
  echo "[sweep100] ABORT: manifest dump failed" >&2; exit 1
fi

run() { # run <name> <cmd...> — resumable, scope-honest (sweep10's helper)
  local n="$1"; shift
  if grep -q "^PASS $n\b" "$LOG"; then return; fi
  echo "[sweep100] $(date +%H:%M:%S) checking $n" >&2
  local out res detail scope
  out=$("$@" 2>&1)
  res=$(printf '%s\n' "$out" | grep -E "^(PASS|FAIL)" | tail -1 || true)
  scope=$(printf '%s\n' "$out" | grep -E "^(WARN|SKIP)" | head -3 || true)
  if [ -n "$scope" ]; then
    printf '%s\n' "$scope" | sed "s/^/SCOPE $n: /" | tee -a "$LOG"
  fi
  case "$res" in
    PASS*)      echo "PASS $n" | tee -a "$LOG" ;;
    FAIL*": "*) echo "FAIL $n: ${res#FAIL*: }" | tee -a "$LOG" ;;
    FAIL*)      detail="${res#FAIL}"; echo "FAIL $n:${detail:- no detail}" \
                  | tee -a "$LOG" ;;
    *)          echo "FAIL $n: check produced no verdict" | tee -a "$LOG" ;;
  esac
}

# Anchor budget lines — first-class log rows so the final tally and the
# evidence file show every registry query exactly once.
budget() { # budget <name> <reason>
  grep -q "^BUDGET $1\b" "$LOG" && return
  echo "BUDGET $1: $2" | tee -a "$LOG"
}
budget q33_dedup_simhash \
  "all-pairs simhash oracle ~2e12 pairs at sf100; no scaled adjudicator (anchor, r12)"
budget q34_dedup_embedding \
  "all-pairs cosine oracle ~1.25e13 pairs at sf100; scale path adjudicated via q36/q38 (anchor, r12)"
budget q92_crosssource_dups \
  "edge set IS the exact all-pairs jaccard relation (~12B joined rows); r12 solo dump exhausted shuffle disk; production analog q32/q113 swept exact"
budget q31_dedup_ngram_jaccard \
  "chunked jaccard adjudicated through sf10; at sf100 each chunk pass re-joins the full ~12B-row shingle relation (K x sf10-sweep cost)"
budget q48_dedup_clusters \
  "edges derive from q31's budgeted sf100 relation; adjudicated exact through sf10"
budget q60_dedup_survivors \
  "survivor window over q48's budgeted sf100 edge labels; adjudicated exact through sf10"

SPECIAL="q38_dedup_embedding_lsh q110_ann_lsh_scaled q111_embedding_clusters \
q85_semdedup"
BUDGETED="q31_dedup_ngram_jaccard q33_dedup_simhash q34_dedup_embedding \
q48_dedup_clusters q60_dedup_survivors q92_crosssource_dups"

# Heavy results (>=90 MB at sf10 => ~1-16 GB each at sf100): dumped and
# checked ONE at a time so at most one lives on disk.
HEAVY="q04_order_enrichment q05_primary_flag q08_master_table \
q11_customer_order_seq q15_events_sessions q29_asof_join q42_range_join \
q54_unpivot q58_date_parts q66_window_analytics"

names=$(python3 - "$OUT/_manifest" "$SPECIAL $BUDGETED $HEAVY" <<'EOF'
import json, sys
o = json.load(open(f"{sys.argv[1]}/oracle_sql.json"))
skip = set(sys.argv[2].split())
print(" ".join(sorted(n for n in o if n not in skip)))
EOF
)

dump_and_check() { # dump_and_check <batchTag> <names...>
  local tag="$1"; shift
  local todo=()
  for q in "$@"; do grep -q "^PASS $q\b" "$LOG" || todo+=("$q"); done
  [ ${#todo[@]} -eq 0 ] && return 0
  local dd="$OUT/$tag"
  rm -rf "$dd"
  echo "[sweep100] $(date +%H:%M:%S) dumping ${#todo[@]} queries ($tag)" >&2
  GRAFT_XMX="${GRAFT_XMX:-32g}" SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-16}" \
    SPARK_GRAFT_SHUFFLE="${SPARK_GRAFT_SHUFFLE:-64}" GRAFT_VERIFY_COALESCE=0 \
    bash tools/run.sh graft.Verify "$SF" "$dd" "${todo[@]}" \
    2>&1 | grep -iE "error|exception|failed" | head -3 >&2 || true
  if [ ! -f "$dd/oracle_sql.json" ]; then
    for q in "${todo[@]}"; do
      echo "FAIL $q: batch dump produced no oracle_sql.json" | tee -a "$LOG"
    done
    rm -rf "$dd"; return 0
  fi
  for q in "${todo[@]}"; do
    case "$q" in
      q38_dedup_embedding_lsh)
        run "$q" python3 tools/check_lsh_banded.py "$SF" "$dd/$q" 4 4 0.35 ;;
      q110_ann_lsh_scaled)
        run "$q" python3 tools/check_lsh_sampled.py "$SF" "$dd" ;;
      q111_embedding_clusters)
        run "$q" python3 tools/check_clusters_scaled.py "$SF" "$dd" ;;
      *)
        run "$q" python3 tools/selfcheck_duck.py "$SF" "$dd" "$q" ;;
    esac
  done
  rm -rf "$dd"
}

# Light queries in batches of 8 (sorted order), then the heavies solo.
batch=(); i=0
for q in $names; do
  batch+=("$q")
  if [ ${#batch[@]} -eq 8 ]; then
    dump_and_check "batch_$i" "${batch[@]}"; batch=(); i=$((i + 1))
  fi
done
[ ${#batch[@]} -gt 0 ] && dump_and_check "batch_$i" "${batch[@]}"
for q in $HEAVY; do
  dump_and_check "heavy_$q" "$q"
done
# q110 BEFORE q111, in ONE batch (q111's layered fallback reads the
# verified q110 dump); q38 last — its checker prints wall time to stderr.
dump_and_check "batch_lsh" q110_ann_lsh_scaled q111_embedding_clusters
dump_and_check "batch_q38" q38_dedup_embedding_lsh
# q85 dead last: its full-corpus sqrt(N)-means TRAINING is the single most
# expensive Spark stage in the registry at 2M x 64 (r12 reclassification
# kept it out of the old 10-query sweep entirely); everything else
# adjudicates before this can stall the log.
dump_and_check "batch_q85" q85_semdedup

npass=$(grep -c '^PASS' "$LOG" || true)
nfail=$(grep -c '^FAIL' "$LOG" || true)
nbudget=$(grep -c '^BUDGET' "$LOG" || true)
echo "== sf100: $npass pass / $nfail fail / $nbudget budgeted (log: $LOG)"
[ "$nfail" -eq 0 ] || exit 1
