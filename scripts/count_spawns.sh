#!/usr/bin/env bash
# Counts the chmod, readlink, ls and stat processes a command starts, by
# putting logging wrappers for them first on PATH. Prints one line per
# command with its total and its count by parent process name (`java` is
# the JVM under test; `bash`, `sbt` and the like are launcher scripts).
#
#   scripts/count_spawns.sh python3 perfbench/run.py --workload incremental_publish \
#     --seed 1 --seconds 6 --trace 0
#
# python3 is resolved to its real binary first: a pyenv shim is a shell
# script whose own readlink/ls calls would be counted otherwise. The
# command's own output passes through untouched.
set -eu
[ $# -gt 0 ] || { echo "usage: $0 <cmd...>" >&2; exit 2; }
TOOLS=(chmod readlink ls stat)
WRAP="$(mktemp -d "${TMPDIR:-/tmp}/count_spawns.XXXXXX")"
trap 'rm -rf "$WRAP"' EXIT
LOG="$WRAP/spawns.log"
: > "$LOG"
if PY="$(python3 -c 'import os, sys; print(os.path.realpath(sys.executable))' 2>/dev/null)"; then
  ln -s "$PY" "$WRAP/python3"
fi
for t in "${TOOLS[@]}"; do
  real="$(command -v "$t")"
  cat > "$WRAP/$t" <<EOF
#!/bin/sh
echo "$t \$(cat /proc/\$PPID/comm 2>/dev/null || echo unknown)" >> "$LOG"
exec "$real" "\$@"
EOF
  chmod +x "$WRAP/$t"
done
status=0
PATH="$WRAP:$PATH" "$@" || status=$?
for t in "${TOOLS[@]}"; do
  by_parent="$(awk -v t="$t" '$1 == t {n[$2]++} END {for (p in n) printf " %s=%d", p, n[p]}' "$LOG")"
  echo "[count_spawns] $t $(awk -v t="$t" '$1 == t' "$LOG" | wc -l)${by_parent:+ (by parent:$by_parent)}" >&2
done
exit "$status"
