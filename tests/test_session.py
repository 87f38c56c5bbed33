"""SparkSession factory tests."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_import_package_outside_repo(tmp_path):
    """A Python UDF that imports crmint_spark runs on the workers when
    the working directory is outside the repo and PYTHONPATH is unset."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from pyspark.sql import functions as F
        from crmint_spark.session import get_spark

        def probe(_):
            import crmint_spark
            return crmint_spark.__name__

        spark = get_spark("worker-path", cpus="1", shuffle_partitions=1)
        print("UDF:" + spark.range(1).select(F.udf(probe)("id")).first()[0])
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "512m"
    res = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    assert "UDF:crmint_spark" in res.stdout
