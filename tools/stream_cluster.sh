#!/usr/bin/env bash
# Streaming KG pipeline with CRASH RECOVERY on the real standalone
# cluster: file source -> Pipeline.scoreDocs (a content_sha mismatch fails
# the batch) -> resumable manifest sink, SIGKILL the driver mid-stream,
# re-submit, and verify the final table exactly matches the batch ground
# truth (exactly-once per repo via checkpoint + manifests).
#
# Usage: tools/stream_cluster.sh [nDocs]
set -euo pipefail
cd "$(dirname "$0")/.."
NDOCS="${1:-20000}"
JAR=$(ls target/scala-2.13/*spark_2.13*.jar | head -1)
source tools/cluster_lib.sh

BASE=$(mktemp -d /tmp/kgstream.XXXX)
SRC="$BASE/src"; TABLE="$BASE/triples"; CKPT="$BASE/ckpt"; EXP="$BASE/expected.json"

start_cluster_master
start_workers 4 2 4g

submit() { # class args... (runs in foreground, streams output)
  local cls="$1"; shift
  "$SPARK/bin/spark-submit" --master spark://127.0.0.1:7077 \
    --class "$cls" \
    --driver-memory 3g --executor-memory 3g \
    --conf spark.ui.enabled=false \
    --conf spark.executor.extraJavaOptions=-XX:+UseParallelGC \
    "$JAR" "$@" 2>/dev/null
}

echo "== prep: per-repo source files + batch ground truth ==" >&2
submit graft.tools.StreamCluster prep "$SRC" "$EXP" "$NDOCS" | grep prep_repos >&2

echo "== phase 1: stream, SIGKILL the driver after 3 batches ==" >&2
OUT1="$BASE/phase1.out"
set +e
# setsid: own process group, so the kill takes out spark-submit AND the
# driver JVM (kill on the wrapper pid alone leaves java draining the
# stream to completion — a vacuous "crash")
setsid bash -c '
  exec "'"$SPARK"'"/bin/spark-submit --master spark://127.0.0.1:7077 \
    --class graft.tools.StreamCluster \
    --driver-memory 3g --executor-memory 3g \
    --conf spark.ui.enabled=false \
    --conf spark.executor.extraJavaOptions=-XX:+UseParallelGC \
    "'"$JAR"'" run "'"$SRC"'" "'"$TABLE"'" "'"$CKPT"'" 8
' > "$OUT1" 2>/dev/null &
APP=$!
KILLED_AT=""
for _ in $(seq 1 600); do
  if [ "$(grep -c '^BATCH' "$OUT1" 2>/dev/null)" -ge 3 ]; then
    KILLED_AT=$(grep -c '^BATCH' "$OUT1")
    echo "  [crash] SIGKILL driver process group after $KILLED_AT batches" >&2
    kill -9 -- "-$APP" 2>/dev/null
    break
  fi
  sleep 0.5
done
wait "$APP" 2>/dev/null
sleep 2
set -e
[ -n "$KILLED_AT" ] || { echo "STREAM FAIL: driver never reached 3 batches" >&2; exit 1; }
pgrep -f "class graft.tools.StreamCluster" >/dev/null \
  && { echo "STREAM FAIL: driver survived the kill" >&2; exit 1; }
grep -q 'triples_in_table' "$OUT1" \
  && { echo "STREAM FAIL: phase 1 finished before the crash" >&2; exit 1; }
grep '^BATCH' "$OUT1" | head -4 >&2

echo "== phase 2: re-submit, resume from checkpoint + manifests ==" >&2
OUT2="$BASE/phase2.out"
submit graft.tools.StreamCluster run "$SRC" "$TABLE" "$CKPT" 8 > "$OUT2"
grep '^BATCH' "$OUT2" >&2 || true
[ "$(grep -c '^BATCH' "$OUT2")" -ge 1 ] \
  || { echo "STREAM FAIL: phase 2 did no work - the crash cannot have been real" >&2; exit 1; }
R=$(grep -oE '\{"triples_in_table".*\}' "$OUT2" | tail -1)
echo "  $R" >&2

python3 - "$R" "$EXP" <<'EOF'
import json, sys
got, exp = json.loads(sys.argv[1]), json.load(open(sys.argv[2]))
assert got["triples_in_table"] == exp["total"], (got, exp["total"])
assert got["repos_in_table"] == len(exp["per_repo"]), got
assert got["committed"] == len(exp["per_repo"]), got
print(json.dumps({"stream_ok": True, "triples": got["triples_in_table"],
                  "repos": got["repos_in_table"], "expected": exp["total"]}))
EOF
echo "STREAM OK: driver crashed mid-stream, restart delivered exactly-once (table == batch ground truth)"
rm -rf "$BASE" # keep /tmp clean on success (left in place on failure for debugging)
