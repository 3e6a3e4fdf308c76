#!/usr/bin/env bash
# Pre-commit gate: compile -> test -> verify -> oracle diff.
#
# Usage: tools/precommit.sh [--fast]
#   --fast  compile only (the 6-second floor every commit must clear;
#           use before cosmetic/doc commits)
#
# Full mode replicates the driver's t2 gate at sf0.01. Run it before any
# commit that touches src/main. The sbt server must already be warm
# (`sbt` in another shell) or the first step pays ~25s JVM startup.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== 1/4 compile =="
sbt --client compile
# Every streaming query starts through MicroBatchPipeline.start; a
# hand-written stream start anywhere else fails the gate.
stray="$(grep -rln '\.writeStream' src/main | grep -v '/MicroBatchPipeline\.scala$' || true)"
if [[ -n "$stray" ]]; then
  echo "writeStream outside MicroBatchPipeline.scala:" >&2
  echo "$stray" >&2
  exit 1
fi
# Every conf override runs on a Sessions.derived session; no other file
# writes a session's SQLConf or clones a session.
confw="$(grep -rlnE 'conf\.(set|unset)\(|cloneSession\(' src/main \
  | grep -vE '/(Sessions|GraftColumnBridge)\.scala$' || true)"
if [[ -n "$confw" ]]; then
  echo "SQLConf write or session clone outside Sessions.scala:" >&2
  echo "$confw" >&2
  exit 1
fi
# Each kernel's loop is one Scala function (VectorKernels, ShingleUtil)
# that eval and the generated code both call; a `for (` in
# GraftExpressions is a hand-written loop in generated Java.
loops="$(grep -c 'for (' src/main/scala/graft/functions/GraftExpressions.scala || true)"
if [[ "$loops" != "0" ]]; then
  echo "hand-written generated-code loop in GraftExpressions.scala ($loops lines):" >&2
  grep -n 'for (' src/main/scala/graft/functions/GraftExpressions.scala >&2
  exit 1
fi

if [[ "${1:-}" == "--fast" ]]; then
  echo "== fast mode: compile green, skipping test/verify =="
  exit 0
fi

echo "== 2/4 test =="
sbt --client test

# Data dir is overridable so the gate isn't hard-coupled to this host's
# layout; the default matches the driver's verification scale.
DATA="${GRAFT_TESTDATA:-/root/testdata/sf0.01}"

echo "== 3/4 verify ($DATA) =="
OUT="${GRAFT_PRECOMMIT_OUT:-/tmp/precommit_verify}"
rm -rf "$OUT"
sbt --client "runMain graft.Verify $DATA $OUT"

echo "== 4/4 oracle diff =="
python3 tools/local_check.py "$OUT" "$DATA"

echo "== precommit gate GREEN =="
