"""The per-worker set-up every Python stage runs (``pyworker.prime_worker``),
checked in a bare interpreter that imports PySpark from ``pyspark.zip``
the way Spark's Python workers do."""

from __future__ import annotations

import ast
import glob
import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in a child whose PYTHONPATH is pyspark.zip + the py4j zip. Prints
# one JSON line: the number of archive directory reads per
# importlib.invalidate_caches() before and after prime_worker(), and
# whether a module added to a rewritten zip imports.
_PROBE = r"""
import importlib, json, os, sys, tempfile, zipfile, zipimport

import pyspark.worker  # the imports a Spark Python worker makes

spoof = sys.argv[2] == "1"
sys.path.append(sys.argv[1])
from tinymapreduce_spark.pyworker import prime_worker

original = zipimport.zipimporter.invalidate_caches
zip_importers = sum(
    isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
)
reads = []
real_read = zipimport._read_directory


def counting_read(archive):
    reads.append(archive)
    return real_read(archive)


zipimport._read_directory = counting_read
importlib.invalidate_caches()
before = len(reads)

if spoof:
    sys.version_info = (3, 13, 0, "final", 0)
prime_worker()
prime_worker()
untouched = zipimport.zipimporter.invalidate_caches is original

reads.clear()
importlib.invalidate_caches()  # first call after the patch reads each archive once
first = len(reads)
reads.clear()
for _ in range(5):
    importlib.invalidate_caches()
steady = len(reads)

extra = os.path.join(tempfile.mkdtemp(), "extra.zip")
with zipfile.ZipFile(extra, "w") as zf:
    zf.writestr("graft_mod_a.py", "A = 1\n")
sys.path.insert(0, extra)
import graft_mod_a

importlib.invalidate_caches()
with zipfile.ZipFile(extra, "w") as zf:
    zf.writestr("graft_mod_a.py", "A = 1\n")
    zf.writestr("graft_mod_b.py", "B = 2\n")
importlib.invalidate_caches()
import graft_mod_b

print(json.dumps({
    "pyspark_from_zip": pyspark.__file__.split(os.sep)[-3] == "pyspark.zip",
    "zip_importers": zip_importers,
    "before": before,
    "untouched": untouched,
    "first": first,
    "steady": steady,
    "added_module": graft_mod_a.A + graft_mod_b.B,
}))
"""


def _zip_pythonpath() -> str:
    lib = os.path.join(os.environ.get("SPARK_HOME", ""), "python", "lib")
    zips = [os.path.join(lib, "pyspark.zip"), *glob.glob(os.path.join(lib, "py4j-*-src.zip"))]
    if len(zips) != 2 or not all(os.path.isfile(z) for z in zips):
        pytest.skip("needs $SPARK_HOME/python/lib/pyspark.zip and the py4j zip")
    return os.pathsep.join(zips)


def _probe(spoof_313: bool) -> dict:
    env = {**os.environ, "PYTHONPATH": _zip_pythonpath()}
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, REPO, "1" if spoof_313 else "0"],
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
        check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_prime_worker_stops_rereading_unchanged_archives():
    r = _probe(spoof_313=False)
    assert r["pyspark_from_zip"]
    assert r["added_module"] == 3  # a module added to a rewritten zip imports
    if sys.version_info >= (3, 13):
        assert r["untouched"]
        return
    # without the patch every zip importer re-reads its archive
    assert r["zip_importers"] > 1
    assert r["before"] == r["zip_importers"]
    assert not r["untouched"]
    assert r["first"] <= 2  # at most once per archive (pyspark, py4j)
    assert r["steady"] == 0


def test_prime_worker_leaves_lazy_zipimport_alone():
    r = _probe(spoof_313=True)
    assert r["untouched"]
    assert r["added_module"] == 3


# Runs in a child whose cwd is outside the repository, so Spark's Python
# workers cannot import this package: every function a Python stage runs,
# prime_worker included, must ship by value. Each key runs twice so the
# second run lands on reused workers that already carry the patch.
_FOREIGN = r"""
import json, sys

sys.path.insert(0, sys.argv[1])
import duckdb

import __spark_entry__ as mod
from tinymapreduce_spark.session import get_spark
from tinymapreduce_spark.sources.loaders import TABLES

sf_dir = sys.argv[2]
spark = get_spark(app_name="foreign-cwd", cpus="2", shuffle_partitions=4)
con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")


def rows(pdf):
    cols = sorted(pdf.columns)
    return cols, sorted(map(tuple, pdf[cols].astype(object).values.tolist()))


result = {}
for name in sys.argv[3:]:
    want = rows(con.execute(mod.oracle_sql()[name]).df())
    result[name] = [
        rows(mod.queries()[name](spark, sf_dir).toPandas()) == want for _ in range(2)
    ]
spark.stop()
print(json.dumps(result))
"""


def test_python_stage_keys_run_from_foreign_cwd(tmp_path, sf_dir):
    keys = ["mr_wordcount_combiner", "arrow_text_stats"]
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    env.pop("PYTHONPATH", None)
    out = subprocess.run(
        [sys.executable, "-c", _FOREIGN, REPO, sf_dir, *keys],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert json.loads(out.stdout.strip().splitlines()[-1]) == {k: [True, True] for k in keys}


def test_row_stage_drops_rows_a_row_fn_yields_none_for(spark):
    from tinymapreduce_spark.pyworker import row_stage

    def nonempty(d, text):
        if text:  # an empty document yields no row
            yield d, len(text)

    df = spark.createDataFrame([(1, "ab"), (2, ""), (3, "xyz")], "doc_id long, text string")
    got = row_stage(df, "doc_id long, n long", nonempty).collect()
    assert sorted(map(tuple, got)) == [(1, 2), (3, 3)]


def test_row_stage_fans_one_row_out_to_many(spark):
    from tinymapreduce_spark.pyworker import row_stage

    def explode(d, k):
        for i in range(k):
            yield d, i

    df = spark.createDataFrame([(1, 3), (2, 0), (3, 1)], "doc_id long, k long")
    got = row_stage(df, "doc_id long, i long", explode).collect()
    assert sorted(map(tuple, got)) == [(1, 0), (1, 1), (1, 2), (3, 0)]


def test_row_stage_carries_binary_in_and_out(spark):
    from tinymapreduce_spark.pyworker import PAYLOAD, row_stage

    def encode(d):
        yield d, bytes([d, 0, 255]) * d

    def decode(d, payload):
        yield d, payload[::-1], len(payload)

    df = spark.range(1, 5).withColumnRenamed("id", "doc_id")
    blobs = row_stage(df, PAYLOAD, encode)
    assert blobs.schema.simpleString() == "struct<doc_id:bigint,payload:binary>"
    got = row_stage(blobs, "doc_id long, rev binary, n long", decode).collect()
    assert sorted((r.doc_id, bytes(r.rev), r.n) for r in got) == [
        (d, (bytes([d, 0, 255]) * d)[::-1], 3 * d) for d in range(1, 5)
    ]


def test_row_stage_keeps_the_schema_on_empty_partitions(spark):
    from tinymapreduce_spark.pyworker import row_stage

    def one(d):
        yield d, str(d)

    schema = "doc_id long, s string"
    sparse = spark.createDataFrame([(7,)], "doc_id long").repartition(4)
    empty = spark.createDataFrame([], "doc_id long").repartition(3)
    for df in (sparse, empty):
        out = row_stage(df, schema, one)
        assert out.schema.simpleString() == "struct<doc_id:bigint,s:string>"
        assert out.count() == df.count()
    assert [tuple(r) for r in row_stage(sparse, schema, one).collect()] == [(7, "7")]


def test_row_stage_names_output_columns_from_the_schema(spark):
    # the input's columns are the output's names in the other order: the
    # output must follow the schema (tuple position -> field name), not
    # the input frame's labels
    from tinymapreduce_spark.pyworker import row_stage

    def swap(n, doc_id):
        yield doc_id, n * 10

    df = spark.createDataFrame([(1, 100), (2, 200)], "n long, doc_id long")
    got = row_stage(df, "doc_id long, n long", swap)
    assert got.columns == ["doc_id", "n"]
    assert sorted(map(tuple, got.collect())) == [(100, 10), (200, 20)]


# Python-stage entry points, found by reading the package's source:
# the function argument of these DataFrame methods, ``pandas_udf``
# functions, UDTF classes (``__init__``, once per task), Python data
# source readers/writers (``read``/``write``) and stateful processors
# (``init``). Row-at-a-time UDFs (``spark.udf.register``) are left out:
# they run once per row, where a per-call check costs as much as the
# function body.
_STAGE_METHODS = {
    "mapInPandas",
    "mapInArrow",
    "applyInPandas",
    "applyInArrow",
    "applyInPandasWithState",
    "foreachPartition",
}
_STAGE_CLASS_METHODS = {
    "DataSourceReader": "read",
    "DataSourceStreamReader": "read",
    "DataSourceWriter": "write",
    "DataSourceArrowWriter": "write",
    "DataSourceStreamWriter": "write",
    "DataSourceStreamArrowWriter": "write",
    "StatefulProcessor": "init",
}


def _name(node) -> str | None:
    node = node.func if isinstance(node, ast.Call) else node
    if isinstance(node, ast.Attribute):
        return node.attr
    return node.id if isinstance(node, ast.Name) else None


def _primes(fn) -> bool:
    body = fn.body
    if isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
        body = body[1:]  # docstring
    return bool(body) and isinstance(body[0], ast.Expr) and (
        isinstance(body[0].value, ast.Call) and _name(body[0].value) == "prime_worker"
    )


def _stage_entry_points(tree) -> tuple[list, list[str]]:
    """(entry-point defs, unresolved stage arguments) of one module."""
    scope_of = {}
    for node in ast.walk(tree):
        for child in ast.iter_child_nodes(node):
            scope_of[child] = node
    defs = [n for n in ast.walk(tree) if isinstance(n, (ast.FunctionDef, ast.ClassDef))]

    def enclosing(node):
        node = scope_of.get(node)
        while node is not None and not isinstance(node, (ast.FunctionDef, ast.Module)):
            node = scope_of.get(node)
        return node

    def resolve(name: str, at):
        # the def of that name visible from the call: innermost scope first
        scope = enclosing(at)
        while scope is not None:
            seen = [d for d in defs if d.name == name and enclosing(d) is scope]
            if seen:
                return max(seen, key=lambda d: d.lineno)
            scope = enclosing(scope)
        return None

    entry, unresolved = [], []

    def add_class(cls, method: str) -> None:
        fn = next(
            (b for b in cls.body if isinstance(b, ast.FunctionDef) and b.name == method),
            None,
        )
        entry.append(fn if fn is not None else (cls, method))

    for node in ast.walk(tree):
        # df.mapInPandas(fn, ...) and the like, or udtf(SomeClass); a
        # bare @udtf(returnType=...) decorator is handled with classes below
        if isinstance(node, ast.Call) and (
            (isinstance(node.func, ast.Attribute) and node.func.attr in _STAGE_METHODS)
            or (_name(node) == "udtf" and node.args)
        ):
            arg = node.args[0] if node.args else next(
                (k.value for k in node.keywords if k.arg == "func"), ast.Constant(None)
            )
            args = [arg.body, arg.orelse] if isinstance(arg, ast.IfExp) else [arg]
            for a in args:
                d = resolve(a.id, node) if isinstance(a, ast.Name) else None
                if d is None:
                    unresolved.append(f"line {node.lineno}: {_name(node)}({ast.unparse(a)})")
                elif isinstance(d, ast.ClassDef):
                    add_class(d, "__init__")
                else:
                    entry.append(d)
        elif isinstance(node, ast.FunctionDef):
            if any(_name(dec) == "pandas_udf" for dec in node.decorator_list):
                entry.append(node)
        elif isinstance(node, ast.ClassDef):
            if any(_name(dec) == "udtf" for dec in node.decorator_list):
                add_class(node, "__init__")
            for base in node.bases:
                if _name(base) in _STAGE_CLASS_METHODS:
                    add_class(node, _STAGE_CLASS_METHODS[_name(base)])
    return entry, unresolved


def test_every_python_stage_entry_point_primes_the_worker():
    """A stage function that skips ``prime_worker()`` still runs
    correctly, only slower, so no other test would notice it."""
    pkg = os.path.join(REPO, "tinymapreduce_spark")
    missing, unresolved, found = [], [], []
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, REPO)
        with open(path) as f:
            entry, bad = _stage_entry_points(ast.parse(f.read()))
        unresolved += [f"{rel} {b}" for b in bad]
        for fn in entry:
            if isinstance(fn, tuple):
                missing.append(f"{rel}:{fn[0].lineno} {fn[0].name} has no {fn[1]}()")
                continue
            found.append((rel, fn.name))
            if not _primes(fn):
                missing.append(f"{rel}:{fn.lineno} {fn.name}")
    assert not unresolved, "stage functions this check cannot find:\n" + "\n".join(unresolved)
    assert not missing, "entry points without prime_worker() first:\n" + "\n".join(missing)
    # the scan still finds the engine's stages (25 when this floor was
    # set), among them the kernel behind every per-row stage
    assert len(found) > 23
    assert (os.path.join("tinymapreduce_spark", "pyworker.py"), "kernel") in found
