#!/bin/bash
# Capture .explain("formatted") for queries into plans/r<round>/<q>_<tag>.txt
#   tools/plans.sh 15 before q1 q2 ...
set -e
cd "$(dirname "$0")/.."
ROUND=$1; TAG=$2; shift 2
mkdir -p "plans/r$ROUND"
RAW=$(mktemp)
trap 'rm -f "$RAW"' EXIT
CP="$PWD/target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
# PLANS.md was captured at shuffle width 8
export SPARK_GRAFT_CPUS=8
java -Xmx8g $OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.tools.PlanAudit /root/testdata/sf0.01 "$@" > "$RAW" 2>/dev/null
python3 - "$RAW" "plans/r$ROUND" "$TAG" <<'PY'
import sys, re
raw, out, tag = sys.argv[1:4]
text = open(raw).read()
blocks = re.split(r'\n?========== (\S+) ==========\n', text)
# blocks: [prefix, name1, body1, name2, body2, ...]
for i in range(1, len(blocks), 2):
    name, body = blocks[i], blocks[i+1]
    open(f'{out}/{name}_{tag}.txt', 'w').write(body.strip() + '\n')
    print(f'wrote {out}/{name}_{tag}.txt')
PY
