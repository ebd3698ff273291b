"""spark-submit --py-files launch test (the north rule's mandated launch
mode)."""

import json
import os
import subprocess
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_spark_submit_py_files(tmp_path):
    """Package the engine as a zip and run a full encode+decode round trip
    through bin/spark-submit --py-files — the cluster launch path — with
    the submit confs DERIVED from conf.plan_submit (the eggo sizing
    formula, eggo/operations.py:124-137): the formula's output is applied
    to a real submission, not just computed."""
    import sys

    import pyspark

    plan_out = subprocess.run(
        [sys.executable, "-m", "eggopress.cli", "plan", "--workers", "1",
         "--node-cores", "4", "--node-mem-mb", "4096"],
        capture_output=True, text=True, check=True, cwd=REPO,
    )
    plan = json.loads(plan_out.stdout)
    assert plan["spark.executor.cores"] == 4
    assert plan["spark.sql.shuffle.partitions"] == 8
    # local[k] master with k = the plan's total cores; every other knob
    # passes through --conf verbatim (executor.instances is a no-op on
    # local mode but must be accepted)
    total_cores = plan["spark.executor.instances"] * plan["spark.executor.cores"]
    conf_args = [a for k, v in plan.items() for a in ("--conf", f"{k}={v}")]

    zpath = tmp_path / "eggopress.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        pkg = os.path.join(REPO, "eggopress")
        for root, _, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))
    job = tmp_path / "job.py"
    table = tmp_path / "tbl"
    job.write_text(
        f"""
import json
from pyspark.sql import SparkSession
spark = (SparkSession.builder.appName("submit-test")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from eggopress import decode, encode, synth, verify
df = synth.corpus_df(spark, 1000)
s = encode.encode_table(spark, df, {str(table)!r}, n_partitions=4)
ok = verify.roundtrip_ok(df, decode.decode_table(spark, {str(table)!r}))
print("RESULT " + json.dumps({{
    "rows": s["rows"], "ok": ok,
    "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    "speculation": spark.conf.get("spark.speculation"),
}}))
spark.stop()
"""
    )
    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    out = subprocess.run(
        [submit, "--master", f"local[{total_cores}]", *conf_args,
         "--py-files", str(zpath), str(job)],
        capture_output=True, text=True, timeout=300,
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("RESULT ")]
    assert lines, out.stderr[-2000:]
    res = json.loads(lines[0][7:])
    assert res["rows"] == 1000 and res["ok"] is True
    # the plan's knobs actually reached the session
    assert res["shuffle_partitions"] == str(plan["spark.sql.shuffle.partitions"])
    assert res["speculation"] == "false"
