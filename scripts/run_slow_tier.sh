#!/usr/bin/env bash
# Run the slow test tier (the streaming soak and the property suites),
# which the default `pytest tests/` run deselects (see pytest.ini), with
# the same environment as the default tier.  Prints the wall time and
# exits with pytest's status, so any failure fails the script.
#
#   scripts/run_slow_tier.sh [extra pytest args]
set -uo pipefail
cd "$(dirname "$0")/.."
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
export SPARK_LOCAL_DIRS="${SPARK_LOCAL_DIRS:-/tmp/spark-local}"
start=$(date +%s)
python -m pytest tests/ -m slow -q --continue-on-collection-errors \
    -p no:cacheprovider "$@"
status=$?
echo "slow tier: exit ${status}, wall $(( $(date +%s) - start )) s"
exit "${status}"
