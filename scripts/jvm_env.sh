# Sourced by the JVM launch scripts (ab_bench.sh, bench_instrumented.sh,
# run_main.sh): sizes the JVM from the host with the tier-1 verify rule
# and holds the flags every graft JVM needs. Nothing here assumes a core
# count or a memory size.
#   HOST_CPUS   nproc (an OMP_NUM_THREADS cap does not apply)
#   HOST_HEAP   SPARK_DRIVER_MEM if set, else half of MemTotal in GiB,
#               clamped to 2..8 GiB
#   SPARK_CP    the Spark jars under $SPARK_HOME
#   JAVA_OPENS  the --add-opens flags Spark needs on Java 17
HOST_CPUS=$(env -u OMP_NUM_THREADS nproc)
HOST_HEAP=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
  END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}
SPARK_CP="${SPARK_HOME:?set SPARK_HOME to the Spark install}/jars/*"
JAVA_OPENS=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch \
         sun.nio.cs sun.security.action sun.util.calendar; do
  JAVA_OPENS+=("--add-opens=java.base/$p=ALL-UNNAMED")
done
