#!/bin/sh
# Dump <dir>/<query>_<suffix>.txt, the formatted physical plan of each
# batch query, for optimization evidence (plans/r17, plans/r18).
# Usage: tools/dump_plan_set.sh <dir> <suffix> <sf_dir>   (after sbt compile)
# Mirrors the bench session config (local core count + shuffle partitions)
# so the dumped plans are the shapes the bench actually runs.
if [ $# -ne 3 ]; then
  echo "usage: $0 <dir> <suffix> <sf_dir>" >&2
  exit 2
fi
GRAFT_PLAN_DIR="$1" GRAFT_PLAN_SUFFIX="$2" GRAFT_PLAN_SF="$3" \
exec /opt/spark/bin/spark-shell --master "local[${SPARK_GRAFT_CPUS:-32}]" \
  --conf spark.sql.shuffle.partitions="${SPARK_GRAFT_CPUS:-32}" \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.session.timeZone=UTC \
  --conf spark.ui.enabled=false \
  --conf spark.driver.extraClassPath=target/scala-2.13/classes:typed-macros/target/scala-2.13/classes \
  -i tools/dump_plan_set.scala
