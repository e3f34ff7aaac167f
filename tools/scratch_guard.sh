# Scratch hygiene for sf100 stages (VERDICT r13 task 5). Source this
# from tools/r*_oracle*.sh / bench scripts; the box has ~60 GB free and
# Spark spill + DuckDB temp SHARE it — two full r13 stages were lost to
# 55 GB of stale spill from killed runs leaving ~2 GB free, and the
# lesson is now mechanized instead of remembered.
#
#   scratch_clean            wipe Spark spill + DuckDB temp
#   scratch_require_gb N     log free space; FAIL the stage early and
#                            loudly if under N GB (a disk-kill 20 min
#                            into a replay costs far more than a retry)
#   scratch_guard N          both, in order

# the checkout holding this file, wherever it is sourced from
SCRATCH_REPO=$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)

scratch_clean() {
  rm -rf "$SCRATCH_REPO"/target/spark-tmp/* 2>/dev/null
  echo "SCRATCH_GUARD: cleaned target/spark-tmp"
}

scratch_require_gb() {
  local need=$1
  local avail_kb
  avail_kb=$(df -Pk "$SCRATCH_REPO" | awk 'NR==2 {print $4}')
  local avail_gb=$((avail_kb / 1024 / 1024))
  if [ "$avail_gb" -lt "$need" ]; then
    echo "SCRATCH_GUARD: only ${avail_gb} GB free (< ${need} GB needed) — aborting stage" >&2
    return 1
  fi
  echo "SCRATCH_GUARD: ${avail_gb} GB free (need ${need})"
}

scratch_guard() {
  scratch_clean
  scratch_require_gb "$1"
}
