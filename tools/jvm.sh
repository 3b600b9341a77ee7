# Sourced by the tools/run_*.sh launchers: starts a graft main on the
# compiled classes, outside sbt.
#
#   graft_java <maxHeapGiB> <mainClass> [args...]
#
# Spark on JDK 17 needs the add-opens list outside spark-submit (build.sbt
# passes the same list to sbt's forked JVMs). The heap is PINNED
# (-Xms=-Xmx), PRE-TOUCHED and THP-backed: on virtualized hosts with slow
# anonymous-page faulting, an on-demand 4K heap turns shuffle-heavy queries
# into kernel-time storms (measured: mm_near_dup at x10 90 s default-G1 vs
# 15 s pinned+THP, sys-time dominating user 10:1 in the slow case), so page
# population is paid once at startup, never billed to a query. Pre-touching
# more than the host has cannot succeed, so the heap is half of RAM, at
# least 2 GiB and at most <maxHeapGiB>.
GRAFT_ROOT=$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)
: "${SPARK_HOME:?SPARK_HOME must point at a Spark installation}"
graft_java() {
  local cap=$1; shift
  local heap opens="" p
  heap=$(awk -v cap="$cap" '/^MemTotal:/ {g = int($2 / 2097152)}
    END {print (g < 2 ? 2 : g > cap ? cap : g) "g"}' /proc/meminfo)
  for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
           java.nio java.util java.util.concurrent java.util.concurrent.atomic \
           sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
    opens="$opens --add-opens java.base/$p=ALL-UNNAMED"
  done
  java $opens -Xms$heap -Xmx$heap -XX:+AlwaysPreTouch -XX:+UseTransparentHugePages \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "$SPARK_HOME/jars/*:$GRAFT_ROOT/target/scala-2.13/classes" "$@"
}
