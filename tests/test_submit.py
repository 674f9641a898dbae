"""spark-submit --py-files smoke test (north rule: jobs are submitted via
spark-submit to multi-executor clusters). Runs the real binary with the
packaged zip in a fresh JVM — proves the CLI entry, the zip layout, and
executor-side imports work outside any test harness session."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SPARK_SUBMIT = "/opt/spark/bin/spark-submit"


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not installed"
)
def test_spark_submit_cli_job(spark, tmp_path):
    from mhealth_spark import cli
    from mhealth_spark.synth import synth_tokens

    inp = str(tmp_path / "tokens.parquet")
    synth_tokens(spark, 200, seed=3).write.mode("overwrite").parquet(inp)

    zip_path = str(tmp_path / "pkg.zip")
    assert cli.main(["package", "--out", zip_path]) == 0

    out = str(tmp_path / "split_out")
    cli_file = os.path.abspath(cli.__file__)
    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[2]",
            "--py-files", zip_path,
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=4",
            cli_file,
            "corpus-split",
            "--input", inp,
            "--output", out,
            "--master", "local[2]",
        ],
        capture_output=True,
        text=True,
        timeout=420,
        env={**os.environ, "PYTHONPATH": ""},
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = spark.read.parquet(out)
    assert got.count() == 200
    assert "split" in got.columns


def test_package_zip_named_by_content(tmp_path):
    """The executor zip is named by a hash of the package's sources: the
    same sources reuse one zip, an edited source gets a new one (workers
    never import stale code), and the zip holds exactly the ``.py``
    files, with no temporary file left behind."""
    import shutil
    import zipfile

    from mhealth_spark import session

    pkg = tmp_path / "src" / "mhealth_spark"
    shutil.copytree(
        os.path.dirname(session.__file__),
        pkg,
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    out = tmp_path / "zips"
    out.mkdir()
    z1 = session._package_zip(str(pkg), str(out))
    assert session._package_zip(str(pkg), str(out)) == z1
    with open(pkg / "streaming.py", "a") as fh:
        fh.write("\n# edited\n")
    z2 = session._package_zip(str(pkg), str(out))
    assert z2 != z1
    with zipfile.ZipFile(z2) as zf:
        names = zf.namelist()
        assert "mhealth_spark/streaming.py" in names
        assert all(n.endswith(".py") for n in names)
        assert zf.read("mhealth_spark/streaming.py").endswith(b"# edited\n")
    assert sorted(os.listdir(out)) == sorted(
        os.path.basename(z) for z in (z1, z2)
    )
