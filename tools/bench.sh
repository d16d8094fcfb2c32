#!/usr/bin/env bash
# Driver-friendly bench wrapper: run the sbt bench with every line of
# sbt/program chatter on stderr, then emit the machine-readable summary
# (totals + per-query medians, the graft.Bench stdout contract) as the
# only — and last — stdout line. Honors SPARK_GRAFT_SF_DIR /
# SPARK_GRAFT_CPUS exactly like `sbt "runMain graft.Bench"`.
set -u
cd "$(dirname "$0")/.."
sbt -batch "runMain graft.Bench" 1>&2
rc=$?
# a failed run or a SPARK_GRAFT_BENCH_ONLY subset leaves the previous
# full-suite summary on disk; printing it would report stale numbers
if [ "$rc" -eq 0 ] && [ -z "${SPARK_GRAFT_BENCH_ONLY:-}" ] &&
    [ -f BENCH_SUMMARY.json ]; then
  cat BENCH_SUMMARY.json
fi
exit $rc
