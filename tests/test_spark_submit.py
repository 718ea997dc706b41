"""The north rule's deployment contract: ``spark-submit --py-files
scikg_spark.zip`` must run the pipeline with every import resolved THROUGH
the zip (the multi-executor cluster story, exercised in local mode).

The test copies the entry script to a temp dir and strips PYTHONPATH, so
neither the driver nor the workers can see the repo checkout — if the zip
is missing a module, this fails."""

import json
import os
import shutil
import subprocess

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_spark_submit_py_files_runs_pipeline(tmp_path):
    from scikg_spark.jobs.package import build_zip
    from scikg_spark.pipeline.session import JVM_OPTIONS

    zip_path = build_zip()
    script = tmp_path / "run_pipeline.py"
    shutil.copy(os.path.join(REPO, "scikg_spark/jobs/run_pipeline.py"),
                script)
    out = tmp_path / "warehouse"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SCIKG_DRIVER_MEM"] = "4g"
    env["XDG_CACHE_HOME"] = str(tmp_path / "xdg")
    proc = subprocess.run(
        ["spark-submit", "--master", "local[2]", "--py-files", zip_path,
         "--driver-java-options", JVM_OPTIONS,
         str(script), "--documents", "/root/testdata/sf0.001",
         "--out", str(out), "--cores", "2"],
        cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=900)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["status"] == "ok"
    # sf0.001 pipeline shape: 770 statements, >0 tuples/entities/edges
    assert result["tables"]["statements"] == 770
    assert result["tables"]["tuples"] > 2000
    assert result["tables"]["entity_nodes"] > 100
    assert result["tables"]["edges"] > 2000
