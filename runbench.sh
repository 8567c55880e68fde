#!/bin/bash
# profiling helper: run graft.Bench on a query subset in a fresh JVM;
# of its stderr only the "bench:" lines (per-entry job/task/shuffle/spill
# figures, staging and gate notes) are shown
OUT=${BENCH_OUT:-bench_out.json}
SPARK_GRAFT_BENCH_OUT="${SPARK_GRAFT_BENCH_OUT:-$OUT}" \
java --add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED -Xmx8g -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -cp target/scala-2.13/classes:'/opt/spark/jars/*' graft.Bench "$@" 2> >(grep --line-buffered '^bench:' >&2)
