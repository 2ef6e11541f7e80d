#!/usr/bin/env bash
# Past-fixture-scale oracle gate (round 6): hash-verify registered
# queries against DuckDB at sf1-equivalent (10x sf0.1) volume. This is
# the gate that caught the q1 sum_charge decimal-exactness drift — a
# divergence class invisible at fixture scale. NOT part of the shipped
# engine (driver-side python deps).
#
# Usage: dev/scale_oracle.sh [10x]   (default: 10x)
set -euo pipefail
cd "$(dirname "$0")/.."
mode="${1:-10x}"

run10x() {
  [ -d /tmp/graft_scale/sf1 ] || python3 dev/gen_scale_tables.py
  # full registry
  SPARK_GRAFT_CPUS=16 sbt -batch \
    "runMain graft.Verify /tmp/graft_scale/sf1 /tmp/verify_scale_full"
  ORACLE_MEM="${ORACLE_MEM:-60GB}" \
    python3 dev/check_oracle.py /tmp/graft_scale/sf1 /tmp/verify_scale_full
}

case "$mode" in
  10x) run10x ;;
  *) echo "usage: $0 [10x]" >&2; exit 2 ;;
esac
