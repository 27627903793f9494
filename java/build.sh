#!/bin/sh
# Build the JVM-native SBS-1 source jar (java/src -> java/sbs1-jvm-source.jar).
# Requires javac 17+ and the local Spark install's jars for compile-time API.
#
# The build is reproducible: it compiles in a private temp dir, adds the
# entries in sorted order with a fixed timestamp and no manifest, and
# embeds the sha256 of its inputs (the .java source, the services file
# and this script) as META-INF/sbs1-jvm-source.sha256. jvm_source_jar()
# in sources/sbs1_jvm.py recomputes that hash the same way and rebuilds
# only when it differs, so file mtimes never trigger a rebuild.
set -e
cd "$(dirname "$0")"
SPARK_JARS="${SPARK_HOME:-/opt/spark}/jars"
SOURCE=src/sbs1/Sbs1JvmSource.java
SERVICES=src/META-INF/services/org.apache.spark.sql.sources.DataSourceRegister
JAR=sbs1-jvm-source.jar

TMP="$(mktemp -d)"
trap 'rm -rf "$TMP" "$JAR.tmp.$$"' EXIT
mkdir -p "$TMP/classes/META-INF/services"
javac --release 17 -cp "$SPARK_JARS/*" -d "$TMP/classes" "$SOURCE"
cp "$SERVICES" "$TMP/classes/META-INF/services/"
sha256sum "$SOURCE" "$SERVICES" build.sh | sha256sum | cut -d' ' -f1 \
  > "$TMP/classes/META-INF/sbs1-jvm-source.sha256"
(cd "$TMP/classes" && find . -type f | sed 's|^\./||' | LC_ALL=C sort) \
  > "$TMP/entries"
(cd "$TMP/classes" && jar --create --no-manifest --date=2000-01-01T00:00:00Z \
  --file "$TMP/$JAR" @"$TMP/entries")
cp "$TMP/$JAR" "$JAR.tmp.$$"
mv -f "$JAR.tmp.$$" "$JAR"
echo "built $(pwd)/$JAR"
