#!/usr/bin/env bash
# Full local gate, in the order failures are cheapest to catch:
# duplicate-idiom grep → benchmark arithmetic tests → compile → tests →
# sf0.001 verify+oracle+golden → sf0.01 verify+oracle → sf0.1
# verify+oracle of the exact-percentile keys.
# Usage: bash tools/ci.sh [--fast]   (--fast skips the sf0.01 and sf0.1 passes)
set -euo pipefail
cd "$(dirname "$0")/.."

# One implementation per idiom: sessions are built only by
# graft.Sessions.local, session confs are saved/restored only by
# graft.Sessions.withConfs, and Spark work runs on another thread only
# through graft.Sessions.future (which carries the caller's job group,
# tags and session over). A second copy anywhere in src/ fails the gate.
dups=$(grep -rnE 'SparkSession\.builder\b|conf\.getOption\(|ExecutionContext\.global|Implicits\.global' \
  src --include='*.scala' | grep -v '^src/main/scala/graft/Sessions\.scala:' || true)
if [[ -n "$dups" ]]; then
  echo "session builder, conf save/restore or global thread pool outside graft.Sessions:" >&2
  echo "$dups" >&2
  exit 1
fi
# Table files are read only through graft.Tables, which resolves each
# table version's schema once instead of launching a footer job per read.
direct=$(grep -rnE 'read\.parquet\(s"\$\{?(dir|sfDir)\}?/' src --include='*.scala' \
  | grep -v '^src/main/scala/graft/Tables\.scala:' || true)
if [[ -n "$direct" ]]; then
  echo "table read outside graft.Tables:" >&2
  echo "$direct" >&2
  exit 1
fi
# The range-partitioned prefix sum (per-partition totals, scanLeft
# offsets, running sums) lives once, in the graft.plans.PrefixSum plan
# node behind graft.ops.Science.cumCounts, for any number of channels.
prefix=$(grep -rn 'mapPartitionsWithIndex' src/main --include='*.scala' \
  | grep -v '^src/main/scala/graft/plans/PrefixSum\.scala:' || true)
if [[ -n "$prefix" ]]; then
  echo "prefix-sum machinery outside graft.plans.PrefixSum:" >&2
  echo "$prefix" >&2
  exit 1
fi
# Native functions (md5_mod & co.) are registered once per query, by
# the wrapper graft.SparkEntry.queries puts around every key; a query
# body never registers them itself.
reg=$(grep -rn 'GraftFunctions\.register(' src/main --include='*.scala' \
  | grep -vE '^src/main/scala/(graft/SparkEntry|org/apache/spark/sql/GraftFunctions)\.scala:' || true)
if [[ -n "$reg" ]]; then
  echo "native-function registration outside graft.SparkEntry.queries:" >&2
  echo "$reg" >&2
  exit 1
fi

# The benchmark's own arithmetic (medians, quartiles, per-layer sums):
# 22 pure-Python tests, under a second.
python3 perfbench/test_metrics.py

# Pin parallelism: q13/q63 sketch goldens depend on partition count, so an
# inherited SPARK_GRAFT_CPUS would make golden check drift across hosts.
export SPARK_GRAFT_CPUS=4

sbt compile
sbt test

sbt "runMain graft.Verify /root/testdata/sf0.001 /tmp/ci_v0"
python3 tools/check.py /root/testdata/sf0.001 /tmp/ci_v0
python3 tools/golden.py check /tmp/ci_v0

if [[ "${1:-}" != "--fast" ]]; then
  sbt "runMain graft.Verify /root/testdata/sf0.01 /tmp/ci_v1"
  python3 tools/check.py /root/testdata/sf0.01 /tmp/ci_v1
  # The 18 keys with an exact percentile over DOUBLE, which
  # graft.plans.NativePercentile runs on the ExactPercentile kernel,
  # against the oracle at sf0.1: groups of thousands of distinct values,
  # so the kernel's run merges and partial-buffer merges all run.
  pct=q21_percentiles,q86_winsorize,q93_anomaly_mad,q99_bootstrap_ci,q115_eqfreq_bins,q132_theil_sen,q168_rfm,q200_decile_lift,q202_pareto_revenue,q213_quantile_map,q246_hist_quantile_merge,q248_runs_test,q254_decision_stump,q270_median_ci,q273_weighted_quantile,q277_qte,q287_missing_impute,q297_bootstrap_median
  sbt "runMain graft.Verify /root/testdata/sf0.1 /tmp/ci_v2 $pct"
  python3 tools/check.py /root/testdata/sf0.1 /tmp/ci_v2 "$pct"
fi
echo "CI GREEN"
