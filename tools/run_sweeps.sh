#!/bin/bash
# Standing per-round gates: environment sweeps + data-shape fuzz sweeps.
# Each gate = full Verify (every registered query) + strict oracle compare.
# Usage: tools/run_sweeps.sh [gate ...]   (default: all gates)
# Gates: sf0.001 sf0.01 sf0.1 cpus7 rocksdb nulls ties sparse oneday skew
#        shuffled text unicode megadup scale
# Exits non-zero on the first failing gate; prints one PASS/FAIL line per
# gate so the round's COVERAGE table can cite this script's output.
set -u
cd "$(dirname "$0")/.."

# heap: SPARK_DRIVER_MEM when set, else half of MemTotal clamped to 2-8 GB
# (the sizing the sbt test run uses), so a gate never asks for more memory
# than the host has
XMX="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null)}"
JAVA_FLAGS=(--add-modules jdk.incubator.vector
  -Djava.io.tmpdir=/tmp
  --add-opens=java.base/java.lang=ALL-UNNAMED
  --add-opens=java.base/java.nio=ALL-UNNAMED
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED
  --add-opens=java.base/java.util=ALL-UNNAMED
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED
  --add-opens=java.base/sun.security.action=ALL-UNNAMED
  "-Xmx${XMX:-2g}")
CP="target/scala-2.13/classes:/opt/spark/jars/*"

run_gate() { # name sf_dir out_dir [env pairs...]
  local name="$1" sf="$2" out="$3"; shift 3
  rm -rf "$out"
  if ! env "$@" java "${JAVA_FLAGS[@]}" -cp "$CP" graft.Verify "$sf" "$out" \
      > "/tmp/sweep_$name.log" 2>&1; then
    echo "FAIL $name: Verify crashed (see /tmp/sweep_$name.log)"; return 1
  fi
  # errors.json is "{}" iff every query wrote its parquet (Verify records
  # each thrown query there; grepping the log would false-positive on
  # Spark's own WARN lines)
  if [ "$(cat "$out/errors.json" 2>/dev/null)" != "{}" ]; then
    echo "FAIL $name: query failures ($out/errors.json)"; return 1
  fi
  if python3 tools/check_oracle_strict.py "$sf" "$out" \
      > "/tmp/strict_$name.log" 2>&1; then
    echo "PASS $name: $(grep -E '[0-9]+ ok' "/tmp/strict_$name.log" | tail -1)"
  else
    echo "FAIL $name: $(grep -E '[0-9]+ ok|^FAIL' "/tmp/strict_$name.log" | tail -1)"; return 1
  fi
}

fuzz_gate() { # variant [amp]
  local v="$1"; local src=/root/testdata/sf0.01
  [ "$v" = scale ] && src=/root/testdata/sf0.1
  python3 tools/fuzz_data.py "$src" "/tmp/fuzz_$v" "$v" ${2:-} \
    > /dev/null 2>&1 || { echo "FAIL $v: fuzz generation"; return 1; }
  run_gate "$v" "/tmp/fuzz_$v" "/tmp/v_$v"
}

rc=0
for g in "${@:-sf0.001 sf0.01 sf0.1 cpus7 rocksdb nulls ties sparse oneday skew shuffled text unicode megadup scale}"; do
  for gate in $g; do
    case "$gate" in
      sf0.001) run_gate sf0001 /root/testdata/sf0.001 /tmp/v_sf0001 ;;
      sf0.01)  run_gate sf001  /root/testdata/sf0.01  /tmp/v_sf001 ;;
      sf0.1)   run_gate sf01   /root/testdata/sf0.1   /tmp/v_sf01 ;;
      cpus7)   run_gate cpus7  /root/testdata/sf0.01  /tmp/v_cpus7 SPARK_GRAFT_CPUS=7 ;;
      rocksdb) run_gate rocksdb /root/testdata/sf0.01 /tmp/v_rocksdb SPARK_GRAFT_ROCKSDB=1 ;;
      scale)   fuzz_gate scale 16 ;;
      *)       fuzz_gate "$gate" ;;
    esac || rc=1
  done
done
exit $rc
