"""The driver may stop its session and start a new one in the same
process.  The package zip that ``_ensure_pyfiles`` ships must reach the
new SparkContext too, so its Python workers can import pdf_parser_spark
when the session was created outside this repo."""

import json
import os
import pathlib
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent

_SCRIPT = """
import importlib.util, json, os
from pyspark.sql import SparkSession

def session(app):
    return (SparkSession.builder.master('local[2]').appName(app)
            .config('spark.sql.shuffle.partitions', '2')
            .config('spark.ui.enabled', 'false').getOrCreate())

spec = importlib.util.spec_from_file_location('se', %r)
m = importlib.util.module_from_spec(spec)
spec.loader.exec_module(m)
side = m.all_queries()['extraction_spans']

a = session('pyfiles-a')
side(a, '')
a_id = a.sparkContext.applicationId
a.stop()

b = session('pyfiles-b')
rows = side(b, '').count()
zips = [os.path.basename(p) for p in b.sparkContext._python_includes
        if os.path.basename(p).startswith('pdf_parser_spark_')]
print(json.dumps({'ids': [a_id, b.sparkContext.applicationId],
                  'zips': zips, 'rows': rows}))
b.stop()
""" % str(REPO / "__spark_entry__.py")


def test_second_session_receives_package_zip(tmp_path):
    # a neutral cwd and no PYTHONPATH: B's Python workers can import
    # pdf_parser_spark only through the shipped zip
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run([sys.executable, "-c", _SCRIPT], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=600)
    assert res.returncode == 0, res.stderr[-3000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert out["ids"][0] != out["ids"][1]
    assert len(out["zips"]) == 1 and out["zips"][0].endswith(".zip")
    assert out["rows"] > 0
