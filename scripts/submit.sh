#!/usr/bin/env bash
# Package and run the job via spark-submit --py-files (north_rule
# operational mode). In this sandbox spark-submit runs local[<cores>]; on
# a real cluster pass --master/--deploy-mode as usual.
#
# spark-submit starts the driver JVM before build_session runs, so the
# driver's JVM options, conf dir and heap are passed here, read from the
# one definition in gtfs2lc_spark/session.py (SPARK_GRAFT_CPUS and
# SPARK_GRAFT_DRIVER_MEM override, as they do for build_session). The
# options include the class-data-sharing flags, with an empty
# SPARK_CONF_DIR, whenever build_session would use them.
set -euo pipefail
cd "$(dirname "$0")/.."

ZIP=/tmp/gtfs2lc_spark.zip
rm -f "$ZIP"
{ read -r DEFAULT_MASTER; read -r JAVA_OPTS; read -r CONF_DIR; read -r DRIVER_MEM; } < <(python -c "
import zipfile, pathlib
from gtfs2lc_spark import session
z = zipfile.ZipFile('$ZIP', 'w')
for p in pathlib.Path('gtfs2lc_spark').rglob('*.py'):
    z.write(p, str(p))
z.close()
java_options, conf_dir = session.driver_launch()
print(session.default_master())
print(java_options)
print(conf_dir or '')
print(session.driver_memory())
")
echo "packaged $ZIP"
if [ -n "$CONF_DIR" ]; then
  export SPARK_CONF_DIR="$CONF_DIR"
fi

exec spark-submit \
  --master "${SPARK_MASTER:-$DEFAULT_MASTER}" \
  --driver-java-options "$JAVA_OPTS" \
  --driver-memory "$DRIVER_MEM" \
  --py-files "$ZIP" \
  gtfs2lc_spark/job.py "$@"
