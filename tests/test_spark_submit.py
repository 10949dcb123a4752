"""Real spark-submit --py-files end-to-end: the cluster submission path
the north rule specifies, not an in-process main() call. A fresh JVM is
launched by the actual spark-submit binary from a NEUTRAL cwd with the
package shipped only as a user-built zip."""

import os
import shutil
import subprocess
import sys
import tempfile
import zipfile

import pytest

from navigator_document_parser_spark.sources.synth import synth_documents

SPARK_SUBMIT = "/opt/spark/bin/spark-submit"


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="no spark-submit binary"
)
def test_real_spark_submit_py_files(spark):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    base = tempfile.mkdtemp(prefix="ndps-ssub-")
    try:
        synth_documents(spark, 20, 2).write.parquet(base + "/in")
        zpath = base + "/ndps.zip"
        with zipfile.ZipFile(zpath, "w") as z:
            pkg = os.path.join(repo, "navigator_document_parser_spark")
            for dirpath, _d, files in os.walk(pkg):
                for fn in sorted(files):
                    if fn.endswith(".py"):
                        full = os.path.join(dirpath, fn)
                        z.write(full, os.path.relpath(full, repo))
        env = dict(
            os.environ,
            PYSPARK_PYTHON=sys.executable,
            PYSPARK_DRIVER_PYTHON=sys.executable,
        )
        proc = subprocess.run(
            [
                SPARK_SUBMIT,
                "--master", "local[2]",
                "--conf", "spark.ui.enabled=false",
                "--py-files", zpath,
                os.path.join(repo, "jobs", "extract.py"),
                "--input", base + "/in",
                "--output", base + "/out",
                "--run-id", "ssub-1",
                "--master", "local[2]",
            ],
            # neutral cwd: driver-side imports resolve via the job file's
            # own repo-relative path insert (standard entry-file pattern);
            # executor python workers receive the package via --py-files
            cwd=base,
            env=env,
            capture_output=True,
            text=True,
            timeout=420,
        )
        assert proc.returncode == 0, proc.stderr[-4000:]
        assert "extraction merged" in proc.stdout
        res = spark.read.parquet(base + "/out")
        assert res.count() == 20
        assert res.filter("error IS NOT NULL").count() == 0
    finally:
        shutil.rmtree(base, ignore_errors=True)
