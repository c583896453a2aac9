# Sourced by the scripts that launch a fixed-heap JVM.
# require_heap "<java command line>": exit 1 with a clear message when
# MemTotal is below the command's -Xmx<N>g heap, instead of starting a
# JVM the machine cannot back.
require_heap() {
  local need_gb have_kb
  need_gb=$(sed -n 's/.*-Xmx\([0-9][0-9]*\)g.*/\1/p' <<< "$1")
  have_kb=$(awk '/^MemTotal:/ {print $2}' /proc/meminfo)
  if [ "$have_kb" -lt $(( need_gb * 1048576 )) ]; then
    echo "$(basename "$0"): needs a ${need_gb}g JVM heap but MemTotal is" \
      "$(( have_kb / 1048576 ))g — run it on a machine with at least" \
      "${need_gb} GiB of memory" >&2
    exit 1
  fi
}
