#!/usr/bin/env bash
# Multi-JVM execution-invariance axis (r16 verdict #1): run the full
# query catalog with REAL worker/executor JVMs (standalone local-cluster
# master) and diff against a default local[n] run. This is the only axis
# that crosses a process boundary: custom Expression serialization,
# broadcast lifecycle, executor-side memo caches (TokenizerStore,
# WordPiece/Unigram apply state) and task scheduling all serialize for
# real here, single-host notwithstanding.
#
#   tools/run_local_cluster_axis.sh [sfDir] [outBase] [axisJson]
#
# Produces <outBase>_default and <outBase>_lc, runs tools/diff_runs.py,
# and writes the diff result as a committed-diffable artifact
# (<axisJson>, default AXIS.json — r17 verdict #3: the "253 equal /
# 0 differ" evidence previously lived only as prose) recording both
# masters, the sf dir, the HEAD commit, and per-entry equal/differ
# counts + names. Exit code is the diff's (1 on any mismatch), so the
# script is a round-close gate.
#
# The cluster master and the core count default to the full-size axis
# (local-cluster[2,8,4096], 32 cores); AXIS_MASTER and AXIS_CPUS shrink
# it for a smaller host, and the artifact records what was used.
#
# SPARK_SCALA_VERSION is required: executor JVMs are launched through
# the release-layout launcher, which cannot infer the Scala version
# without it (the "Cannot find any build directories" failure).
set -euo pipefail
SF_DIR="${1:-/root/testdata/sf0.01}"
OUT="${2:-/tmp/axis}"
AXIS_JSON="${3:-AXIS.json}"
AXIS_MASTER="${AXIS_MASTER:-local-cluster[2,8,4096]}"
AXIS_CPUS="${AXIS_CPUS:-32}"
cd "$(dirname "$0")/.."

SPARK_GRAFT_CPUS="$AXIS_CPUS" sbt -batch \
  "runMain graft.Verify $SF_DIR ${OUT}_default"

SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
SPARK_GRAFT_MASTER="$AXIS_MASTER" SPARK_GRAFT_CPUS="$AXIS_CPUS" \
  sbt -batch "runMain graft.Verify $SF_DIR ${OUT}_lc"

# Capture the diff's exit code instead of letting `set -e` abort
# (r18 ADVICE #2: a MISMATCHING diff_runs.py killed the script before
# the artifact wrapper ran, so the mismatch evidence this artifact was
# added to record was never written and the .tmp was left behind). The
# wrapper always writes the artifact; the script then exits with the
# diff's code so it stays a round-close gate.
rc=0
python3 tools/diff_runs.py "${OUT}_default" "${OUT}_lc" \
  --json "${AXIS_JSON}.tmp" || rc=$?
python3 - "$AXIS_JSON" "$SF_DIR" "$AXIS_MASTER" "$AXIS_CPUS" <<'EOF'
import json, subprocess, sys
out, sf, master, cpus = sys.argv[1:5]
d = json.load(open(out + ".tmp"))
def git(*args):
    return subprocess.run(["git"] + list(args), capture_output=True,
                          text=True).stdout.strip()
# Tree hashes pin the artifact to the SOURCE TREE, not the commit
# (r18 verdict #5): artifact-only commits after the axis run change
# HEAD but not HEAD:src, so "axis at close HEAD" is mechanically
# checkable by AxisArtifactSpec instead of a manual byte-compare.
# src_dirty records uncommitted src/tools edits at run time — a dirty
# axis is not evidence about any commit.
rec = {"metric": "multi_jvm_axis", "sf": sf,
       "master_a": "local[%s]" % cpus, "master_b": master,
       "head": git("rev-parse", "HEAD"),
       "src_tree": git("rev-parse", "HEAD:src"),
       "tools_tree": git("rev-parse", "HEAD:tools"),
       "src_dirty": bool(git("status", "--porcelain", "--",
                             "src", "tools", "build.sbt"))}
rec.update(d)
json.dump(rec, open(out, "w"), indent=0)
import os
os.remove(out + ".tmp")
print("wrote", out)
EOF
exit $rc
