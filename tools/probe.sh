#!/usr/bin/env bash
# Scale-probe runner: graft.Bench over a query subset in one fresh JVM.
#
#   tools/probe.sh <sf_dir> <query[,query...]> [log_file]
#
# Single pass unless SPARK_GRAFT_BENCH_PASSES is exported. stdout (the
# JSON line) passes through; stderr goes to the log file so a
# task-failure reason is never lost (the round-11 1-in-5 transient was
# unattributable because a filter swallowed it).
set -u
LOG="${3:-/tmp/probe_$(date +%s).log}"
SPARK_GRAFT_SF_DIR="$1" SPARK_GRAFT_BENCH_ONLY="$2" \
SPARK_GRAFT_BENCH_PASSES="${SPARK_GRAFT_BENCH_PASSES:-1}" \
  "$(dirname "$0")/runmain.sh" graft.Bench 2>"$LOG"
rc=$?
echo "rc=$rc log=$LOG" >&2
exit $rc
