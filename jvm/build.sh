#!/bin/sh
# Compile the JVM-side age crypto UDFs and the fork-free file:// filesystem
# classes into jvm/age-spark-udf.jar.  Pure JDK 17 + the Spark jars shipped
# with pyspark (the UDF2 interface and Hadoop's filesystem classes).
# Idempotent; duckdb_age_spark.jvm.ensure_jar() invokes this lazily under a
# build lock and caches on source mtime.
set -e
cd "$(dirname "$0")"
# Spark jars for the compile classpath: $SPARK_HOME if it exists, else the
# pip-installed pyspark's own jars directory (pip-only installs have no
# /opt/spark — code-review r8 finding).
SPARK_JARS="${SPARK_HOME:-/opt/spark}/jars"
if [ ! -d "$SPARK_JARS" ]; then
    # $PYTHON lets ensure_jar() pass sys.executable (the interpreter that
    # actually has pyspark); bare `python` does not exist on Debian/Ubuntu
    # without python-is-python3 (code-review r8)
    PY="${PYTHON:-python3}"
    command -v "$PY" >/dev/null 2>&1 || PY=python
    SPARK_JARS="$("$PY" -c 'import os, pyspark; print(os.path.join(os.path.dirname(pyspark.__file__), "jars"))')"
fi
rm -rf classes.tmp && mkdir -p classes.tmp
javac -encoding UTF-8 -classpath "$SPARK_JARS/*" -d classes.tmp src/agespark/*.java
# build to a temp jar, then atomically rename: a reader holding the old jar
# open (a running Spark driver) never sees a half-written file
jar cf age-spark-udf.jar.tmp -C classes.tmp .
mv -f age-spark-udf.jar.tmp age-spark-udf.jar
rm -rf classes && mv classes.tmp classes
echo "built $(pwd)/age-spark-udf.jar"
