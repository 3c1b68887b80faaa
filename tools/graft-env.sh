# Shared launcher environment for running graft mains WITHOUT sbt.
# Sourced by tools/verify.sh and tools/bench.sh.
#
# Why this exists: sbt holds a per-project lock, so a correctness pass
# queued behind a long benchmark (or vice versa) can time out at the
# harness level even though the code is green. Running the already-
# compiled classes with plain `java -cp` removes both the lock and the
# sbt startup latency. Round 2 lost its entire correctness signal to
# exactly this failure mode.

REPO="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
CLASSES="$REPO/target/scala-2.13/classes"
GRAFT_CP="$CLASSES:/opt/spark/jars/*"

# Compile only when a main-source file is newer than the newest class.
graft_ensure_compiled() {
  local newest_src newest_cls
  # `|| true`: in a fresh clone $CLASSES does not exist, and a failing find
  # would end a `set -euo pipefail` caller here instead of compiling below
  newest_src=$(find "$REPO/src/main" -name '*.scala' -printf '%T@\n' 2>/dev/null | sort -rn | head -1 || true)
  newest_cls=$(find "$CLASSES" -name '*.class' -printf '%T@\n' 2>/dev/null | sort -rn | head -1 || true)
  if [ -z "$newest_cls" ] || awk -v s="$newest_src" -v c="$newest_cls" 'BEGIN{exit !(s > c)}'; then
    echo "[graft] classes stale or missing — compiling via sbt once" >&2
    (cd "$REPO" && sbt -batch compile >&2)
  fi
}

# Spark 4.x on JDK 17 outside spark-submit needs the module opens that
# spark-submit normally injects (org.apache.spark.launcher.JavaModuleOptions).
GRAFT_ADD_OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke \
         java.base/java.lang.reflect java.base/java.io java.base/java.net \
         java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs \
         java.base/sun.security.action java.base/sun.util.calendar; do
  GRAFT_ADD_OPENS="$GRAFT_ADD_OPENS --add-opens=$p=ALL-UNNAMED"
done

# Firecracker microVM: first-touch page faults are ~100x bare metal, so an
# adaptively-growing heap burns cores in the kernel. Fixed pre-touched heap
# (same flags as build.sbt's forked run).
GRAFT_MEM="${SPARK_DRIVER_MEM:-12g}"
GRAFT_JVM_FLAGS="-XX:+UseParallelGC -XX:+AlwaysPreTouch -XX:-UseAdaptiveSizePolicy -Xms$GRAFT_MEM -Xmx$GRAFT_MEM -Xlog:gc -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC"

graft_java() {
  # shellcheck disable=SC2086
  exec java $GRAFT_ADD_OPENS $GRAFT_JVM_FLAGS -cp "$GRAFT_CP" "$@"
}
