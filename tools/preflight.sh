#!/usr/bin/env bash
# Exit gate for a commit: it refuses success unless the tree compiles,
# every ScalaTest passes (CatalogShapeSpec pins the catalog at 488 queries,
# each with oracle SQL; FunnelSpec and ScaleGateSpec measure every query's
# plan at sf0.001), the measured sf0.01 sweeps are clean, and the sf0.01,
# edge-fixture and zero-row DuckDB oracle differentials are all green. A
# snapshot that does not compile zeroes every correctness and benchmark
# signal at once, and a throwing query must not read as "not run".
#
# Wall clock: the three audit sweeps (funnel, hazard, cross-SF scaling)
# run as ONE JVM pass — graft.PreflightSweep shares a single sf0.01
# execution between the hazard metrics and the scaling gate's t_B — and
# the three oracle fixtures share one Verify JVM via its multi-pair CLI.
#
# Usage:
#   tools/preflight.sh                 # full gate (compile + test + sweeps
#                                      # + oracle + edge/empty fixtures)
#   tools/preflight.sh q1_agg,q2_x     # gate, with Verify/oracle filtered to
#                                      # the named queries (faster iteration;
#                                      # still compiles + runs all ScalaTests
#                                      # + the full-catalog funnel+hazard
#                                      # sweeps; the cross-SF timing gate and
#                                      # the edge/empty-fixture sweeps run
#                                      # only in the FULL gate — run it
#                                      # before the milestone commit)
set -euo pipefail
cd "$(dirname "$0")/.."

ONLY="${1:-}"
OUT=/tmp/preflight_verify
SF=/root/testdata/sf0.01

# A stale SPARK_GRAFT_ONLY exported in the calling shell would silently
# restrict the gating sweeps AND the oracle differential to a near-empty
# set (exit 0, "flagged: 0"). Unset UNCONDITIONALLY: even the filtered
# path's funnel+hazard sweep is documented full-catalog (only the
# Verify/oracle stage narrows, and that stage re-exports $ONLY itself).
unset SPARK_GRAFT_ONLY

echo "== preflight: compile + test (incl. measured scale gates) =="
# `sbt test` includes the two MEASURED plan gates at sf0.001, both read
# from ONE shared pass that builds and runs every catalog query once
# (AQE off; CatalogAudit, PlanAudit.auditQuery):
#  - FunnelSpec: every logical window in every catalog query, flagged
#    when a corpus-sized frame funnels through a low-cardinality key;
#  - ScaleGateSpec: flagged on measured single-partition exchanges /
#    cartesian products / oversized nested-loop broadcast sides.
sbt -batch compile test

# The audit mains below run in plain fresh JVMs (tools/run_main.sh) against
# the classes sbt just compiled — same JVM options, no per-main sbt startup.

# One-JVM gate sweep. Rationale per check (history in the scaladocs):
#  - funnel (32/512, allow ev26): sf0.01 is the scale that separates
#    corpus-growing funnels from bounded frames (it caught e4/e12/e14
#    after sf0.001 passed them);
#  - hazard (512/64, allow sim4): same asymmetry argument, measured
#    single-partition exchanges / cartesians / nested-loop sides;
#  - scaling (>10x growth on 10x data above a 2 s floor, empty
#    allowlist): catches superlinear runtime the shape gates can't see;
#    flags re-time min-of-two before counting. Skipped in the filtered
#    fast path (noscaling) — the funnel+hazard sweeps still cover the
#    FULL catalog there.
if [ -z "$ONLY" ]; then
  echo "== preflight: one-JVM gate sweep (funnel + hazard at sf0.01 + cross-SF scaling) =="
  tools/run_main.sh graft.PreflightSweep /root/testdata/sf0.001 "$SF" \
    ev26_peak_concurrency sim4_neardup_exact -
else
  echo "== preflight: one-JVM gate sweep (full-catalog funnel + hazard at sf0.01; scaling gate deferred to the full gate) =="
  tools/run_main.sh graft.PreflightSweep /root/testdata/sf0.001 "$SF" \
    ev26_peak_concurrency sim4_neardup_exact - noscaling
fi

VLOG=/tmp/preflight_verify.log
rm -rf "$OUT"
if [ -n "$ONLY" ]; then
  echo "== preflight: Verify -> DuckDB differential (sf0.01, filtered) =="
  # Exported (not per-command) so check_oracle.py also sees it: it
  # treats a missing output dir in an UNfiltered run as a hard FAIL.
  export SPARK_GRAFT_ONLY="$ONLY"
  tools/run_main.sh graft.Verify "$SF" "$OUT" 2>&1 | tee "$VLOG"
else
  echo "== preflight: Verify -> DuckDB differential (sf0.01 + edge + empty fixtures, one JVM) =="
  # Pathological inputs (empty/whitespace docs, zero vectors, equal-
  # timestamp ties, single-event users) expose silent engine divergences
  # — sequence() stepping down, div-vs-// truncation, ln(0) — that no SF
  # fixture reaches (the manual form once found 25 real divergences);
  # the --empty variant exercises the same guard paths at the zero-row
  # limit. Both gate, sharing the sf0.01 JVM.
  EDGE_SF=/tmp/edge_sf;   EDGE_OUT=/tmp/edge_out
  EMPTY_SF=/tmp/empty_sf; EMPTY_OUT=/tmp/empty_out
  rm -rf "$EDGE_SF" "$EDGE_OUT" "$EMPTY_SF" "$EMPTY_OUT"
  python3 tools/make_edge_fixture.py "$SF" "$EDGE_SF"
  python3 tools/make_edge_fixture.py --empty "$SF" "$EMPTY_SF"
  tools/run_main.sh graft.Verify "$SF" "$OUT" \
    "$EDGE_SF" "$EDGE_OUT" "$EMPTY_SF" "$EMPTY_OUT" 2>&1 | tee "$VLOG"
fi
# A query that THROWS inside Verify writes no output dir, and the filtered
# oracle check would silently skip it (this bit once: ts5's ambiguous
# self-join error "passed" a filtered gate). Fail hard on any verify error.
if grep -q "\[verify\].*failed" "$VLOG"; then
  echo "== preflight: FAIL — Verify reported query errors:" >&2
  grep "\[verify\].*failed" "$VLOG" >&2
  exit 1
fi
python3 tools/check_oracle.py "$SF" "$OUT"
if [ -z "$ONLY" ]; then
  python3 tools/check_oracle.py "$EDGE_SF" "$EDGE_OUT"
  python3 tools/check_oracle.py "$EMPTY_SF" "$EMPTY_OUT"
fi

echo "== preflight: PASS — safe to commit =="
