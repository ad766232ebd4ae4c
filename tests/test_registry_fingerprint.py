"""The query registry's observable shape, pinned without a Spark session:
contract keys and order, oracle text, which rows run plain QUERY_SQL,
and that retired rows never leak into the 50-row driver contract.

Oracle text embeds the repo path; it is replaced by ``<repo>`` before
hashing so the fingerprints hold in any checkout."""

import hashlib
import importlib.util
import json
import os
import pathlib
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent


def _load():
    spec = importlib.util.spec_from_file_location(
        "spark_entry_fp", REPO / "__spark_entry__.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _h(x) -> str:
    return hashlib.sha256(json.dumps(x).encode()).hexdigest()


def test_registry_fingerprints():
    m = _load()
    repo = str(m._REPO)
    queries, oracles = m.queries(), m.oracle_sql()
    all_q, all_o = m.all_queries(), m.all_oracles()
    assert len(queries) == 50 and len(all_q) == len(all_o) == 181
    assert _h(list(queries)) == (
        "2c9f6ece1777f1b0ecf388cea1ae856d7d7eb8886f7ace0f5abc6def5ebbc5c5")
    assert _h([[k, v.replace(repo, "<repo>")]
               for k, v in oracles.items()]) == (
        "e6b94fbcbc0824149a41cd2895e0a3c6145e671eef37bdd3f913ff7f9a35e146")
    assert _h(sorted([k, v.replace(repo, "<repo>")]
                     for k, v in all_o.items())) == (
        "d7e84c21eba8c4cca3550daacfb3087a20da48f9159c3210a6acbeb7ed6fd9ae")
    # 146 rows run QUERY_SQL[name]["spark"]; the other 35 are callables.
    # label_propagation and ann_pq_codes run their SQL: their twins lost
    # every timed pair to it at sf0.1 (BENCH/twins.json)
    plain = sorted(n for n in all_q if n not in m._SIDES)
    assert len(plain) == 146 and set(plain) <= set(m.QUERY_SQL)
    assert _h(plain) == (
        "dd0caaa4afa3b64ae0f8f0a90d5a0a18491ceb4d322a2017fc07711234bf7b11")
    assert len(m._SIDES) == 35
    assert all(all_q[n] is side for n, (side, _) in m._SIDES.items())


def test_new_operator_is_retired_by_default(monkeypatch):
    m = _load()
    monkeypatch.setitem(m.QUERY_SQL, "zz_new_operator",
                        {"spark": "SELECT 1 AS x", "duckdb": "SELECT 1 AS x"})
    assert len(m.queries()) == len(m.oracle_sql()) == 50
    assert "zz_new_operator" not in m.queries()
    assert "zz_new_operator" in m.all_queries()
    assert m.all_oracles()["zz_new_operator"] == "SELECT 1 AS x"


_ORDER = (
    "import importlib.util, json\n"
    "spec = importlib.util.spec_from_file_location('se', %r)\n"
    "m = importlib.util.module_from_spec(spec)\n"
    "spec.loader.exec_module(m)\n"
    "print(json.dumps([list(m.all_queries()), list(m.all_oracles())]))\n"
    % str(REPO / "__spark_entry__.py"))


def test_all_queries_order_ignores_hash_seed():
    orders = []
    for seed in ("1", "2"):
        res = subprocess.run(
            [sys.executable, "-c", _ORDER], capture_output=True, text=True,
            timeout=300, check=True,
            env={**os.environ, "PYTHONHASHSEED": seed})
        orders.append(json.loads(res.stdout.strip().splitlines()[-1]))
    assert orders[0] == orders[1]
    assert orders[0][0] == orders[0][1]


# LINE_PARTITIONS is read from the host's CPU count at import and is
# baked into the Spark texts of the line-level parsers, so the texts are
# hashed in a child process with the width pinned.
_SPARK_TEXTS = (
    "import hashlib, importlib.util, json\n"
    "spec = importlib.util.spec_from_file_location('se', %r)\n"
    "m = importlib.util.module_from_spec(spec)\n"
    "spec.loader.exec_module(m)\n"
    "rows = sorted([k, v['spark'].replace(str(m._REPO), '<repo>')]\n"
    "              for k, v in m.QUERY_SQL.items())\n"
    "print(len(rows), hashlib.sha256(json.dumps(rows).encode())"
    ".hexdigest())\n"
    % str(REPO / "__spark_entry__.py"))


def test_spark_text_fingerprint():
    res = subprocess.run(
        [sys.executable, "-c", _SPARK_TEXTS], capture_output=True,
        text=True, timeout=300, check=True,
        env={**os.environ, "SPARK_GRAFT_LINE_PARTITIONS": "16"})
    n, digest = res.stdout.strip().splitlines()[-1].split()
    assert int(n) == 161
    assert digest == (
        "d783d1c0ea6b194d61bc0c2c5aaff5a544c00bbe9f0c66e06cb28fdd618cdc97")
