"""The shared row-expanding stage and literal tables
(htmlparser_spark._rowmap), the rule that every Python stage of the package
pickles by reference, the rule that every literal table is a
``LocalRelation``, the rule that only the two named stages cross the
boundary as pandas, the rule that only ``build_session`` reads the
environment, and the rule that only ``ops.py`` names the Bloom geometry."""
import ast
import os
import sys

import pyarrow as pa
import pytest
from pyspark.sql import Row, SparkSession
from pyspark.sql.types import DataType

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from htmlparser_spark._rowmap import (
    _flat_map, arrow_schema, flat_map, id_range, local_frame)
from htmlparser_spark.pipeline.schema import LINEAGE_SCHEMA
from perfbench.procstat import descendants

PKG = os.path.join(REPO, "htmlparser_spark")
UDFS = ("pandas_udf", "arrow_udf")
STAGES = ("mapInPandas", "mapInArrow", "applyInPandas",
          "applyInPandasWithState", "applyInArrow") + UDFS


def _callee(node):
    """Name of the function a call or decorator names: ``f``, ``x.f``,
    ``f(...)``."""
    if isinstance(node, ast.Call):
        node = node.func
    return getattr(node, "id", getattr(node, "attr", None))


def _handed_function(call):
    """The expression a stage call is handed as its function, with any
    ``partial(fn, ...)`` unwrapped."""
    fn = call.args[0] if call.args else next(
        (k.value for k in call.keywords if k.arg == "func"), None)
    while (isinstance(fn, ast.Call) and fn.args
           and getattr(fn.func, "id", getattr(fn.func, "attr", None))
           == "partial"):
        fn = fn.args[0]
    return fn


def _nested_stage_functions(tree):
    """(line, name) of every stage call handed a lambda or a function
    defined inside the function that makes the call, and of every such
    function decorated with ``pandas_udf`` or ``arrow_udf``."""
    bad = []
    for outer in ast.walk(tree):
        if not isinstance(outer, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        nested = [n for n in ast.walk(outer)
                  if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
                  and n is not outer]
        bad += [(n.lineno, n.name) for n in nested
                if any(_callee(d) in UDFS for d in n.decorator_list)]
        inner = {n.name for n in nested}
        inner |= {t.id for n in ast.walk(outer)
                  if isinstance(n, ast.Assign)
                  and isinstance(n.value, ast.Lambda)
                  for t in n.targets if isinstance(t, ast.Name)}
        for call in ast.walk(outer):
            if not (isinstance(call, ast.Call) and _callee(call) in STAGES):
                continue
            fn = _handed_function(call)
            if isinstance(fn, ast.Lambda):
                bad.append((call.lineno, "<lambda>"))
            elif isinstance(fn, ast.Name) and fn.id in inner:
                bad.append((call.lineno, fn.id))
    return sorted(set(bad))


def _package_findings(check, *files):
    """{file: check(its AST)} for every package file, and each of ``files``
    (repo-relative), where it finds any."""
    paths = [os.path.join(root, fn) for root, _dirs, fns in os.walk(PKG)
             for fn in fns if fn.endswith(".py")]
    found = {}
    for path in paths + [os.path.join(REPO, f) for f in files]:
        with open(path, encoding="utf-8") as f:
            bad = check(ast.parse(f.read()))
        if bad:
            found[os.path.relpath(path, REPO)] = bad
    return found


def test_no_stage_is_handed_a_nested_function():
    """A closure pickles by value, so a worker that runs only closure
    stages (UDF ones included) never imports the package or loads its
    ``_pyworker`` fix."""
    found = _package_findings(_nested_stage_functions)
    assert not found, found


def test_guard_sees_closures_partials_and_lambdas():
    src = '''
from functools import partial
def a(df):
    def split(batches):
        yield from batches
    return df.mapInPandas(split, "x long")
def b(df):
    def enc(batches):
        yield from batches
    return df.mapInPandas(partial(enc, 1), schema="x long")
def c(df):
    f = lambda it: it
    return df.groupBy("k").applyInPandas(f, "x long")
def d(df):
    return df.mapInPandas(partial(_top, 1), "x long")
def _top(n, batches):
    yield from batches
'''
    assert _nested_stage_functions(ast.parse(src)) == [
        (6, "split"), (10, "enc"), (13, "f")]


def test_guard_sees_pandas_udf_closures():
    src = '''
def a(df):
    @F.pandas_udf("string")
    def sig(v):
        return v
    return df.select(sig("v"))
def b(df):
    g = lambda v: v
    return df.select(pandas_udf(g, "string")("v"))
@pandas_udf("string")
def _top(v):
    return v
def c(df):
    return df.select(_top("v"), pandas_udf(_top.func, "string")("v"))
def d(df):
    @F.arrow_udf("string")
    def sig(v):
        return v
    return df.groupBy("k").applyInArrow(lambda t: t, "x long")
'''
    assert _nested_stage_functions(ast.parse(src)) == [
        (4, "sig"), (9, "g"), (17, "sig"), (19, "<lambda>")]


def _create_dataframe_calls(tree):
    """Line of every ``createDataFrame(...)`` call outside a function
    named ``local_frame``."""
    inside = {id(n) for f in ast.walk(tree)
              if isinstance(f, ast.FunctionDef) and f.name == "local_frame"
              for n in ast.walk(f)}
    return sorted(n.lineno for n in ast.walk(tree)
                  if isinstance(n, ast.Call) and id(n) not in inside
                  and _callee(n) == "createDataFrame")


def test_literal_tables_go_through_local_frame():
    """``createDataFrame(list)`` is a Python RDD: a literal table of a few
    rows starts a daemon and a Python worker per core. ``local_frame``
    ships it to the JVM as Arrow instead."""
    found = _package_findings(_create_dataframe_calls)
    assert not found, found


def test_guard_sees_create_dataframe_calls():
    src = '''
def local_frame(spark, rows, schema):
    return spark.createDataFrame(rows, schema)
def a(spark):
    return spark.createDataFrame([(1,)], "x long")
def b(spark):
    make = spark.createDataFrame
    return local_frame(spark, [(1,)], "x long").union(make([(2,)]))
t = spark.createDataFrame(
    [], "x long")
'''
    assert _create_dataframe_calls(ast.parse(src)) == [5, 9]


# the stages that stay on pandas, by file and top-level function
PANDAS_STAGES = {
    # the HTML kernel: perfbench/layers.py drives parse_batch with pandas
    # frames
    "htmlparser_spark/pipeline/job.py": {"parse_pages"},
    # the last curate_ops stage that perfbench/eventlog.py finds by the node
    # name MapInPandas, which keeps the traced arrow.* readings non-zero
    "htmlparser_spark/ops.py": {"_shingle_stage"},
}
PANDAS_CALLS = ("mapInPandas", "applyInPandas", "applyInPandasWithState",
                "pandas_udf")


def _pandas_stage_calls(tree):
    """(line, top-level definition or None) of every call of a pandas
    stage and of every function decorator naming ``pandas_udf``."""
    return sorted({
        (m.lineno, getattr(top, "name", None)) for top in tree.body
        for n in ast.walk(top)
        for m in ([n] if isinstance(n, ast.Call)
                  else getattr(n, "decorator_list", []))
        if _callee(m) in PANDAS_CALLS})


def test_only_the_named_stages_cross_as_pandas():
    """Every other Python stage crosses as Arrow (``mapInArrow``,
    ``arrow_udf``, ``applyInArrow``): the pandas hop costs code and a copy
    per batch, and reads naive datetimes in the session time zone."""
    found = _package_findings(_pandas_stage_calls, "__spark_entry__.py")
    stray = {f: [(line, fn) for line, fn in calls
                 if fn not in PANDAS_STAGES.get(f, ())]
             for f, calls in found.items()}
    stray = {f: calls for f, calls in stray.items() if calls}
    assert not stray, stray
    # and the list names no stage that has since moved off pandas
    assert {f: {fn for _l, fn in c} for f, c in found.items()} \
        == PANDAS_STAGES


def test_pandas_guard_sees_a_call():
    src = '''
def parse_pages(df):
    return df.mapInPandas(f, "x long")
def g(df):
    def h(batches):
        yield from batches
    return df.mapInPandas(h, "x long").mapInArrow(h, "x long")
x = spark.range(1).mapInPandas(
    f, "x long")
@F.pandas_udf(DoubleType())
def _cos(a, b):
    return a
@pandas_udf
def _sig(v):
    return v
@F.arrow_udf(DoubleType())
def _dot(a, b):
    return a
def k(df):
    a = df.groupBy("k").applyInPandas(f, "x long")
    b = df.groupBy("k").applyInArrow(f, "x long")
    s = df.groupBy("k").applyInPandasWithState(
        f, "x long", "s long", "append", "NoTimeout")
    return s.select(F.pandas_udf(f, "long")("x"))
'''
    assert _pandas_stage_calls(ast.parse(src)) == [
        (3, "parse_pages"), (7, "g"), (8, None), (10, "_cos"), (13, "_sig"),
        (20, "k"), (22, "k"), (24, "k")]


# the deployment settings a session is built with (SPARK_GRAFT_CPUS,
# SPARK_DRIVER_MEMORY); every other setting is an argument or a constant
ENV_READS = {"htmlparser_spark/pipeline/job.py": {"build_session"}}


def _environ_reads(tree):
    """(line, top-level definition or None) of every ``os.environ`` or
    ``os.getenv`` read, and of every import of either from ``os``."""
    return sorted({
        (n.lineno, getattr(top, "name", None)) for top in tree.body
        for n in ast.walk(top)
        if (isinstance(n, ast.Attribute) and n.attr in ("environ", "getenv")
            and getattr(n.value, "id", None) == "os")
        or (isinstance(n, ast.ImportFrom) and n.module == "os"
            and any(a.name in ("environ", "getenv") for a in n.names))})


def test_only_build_session_reads_the_environment():
    """A setting read from the environment is a second code path that no
    caller's arguments show."""
    found = _package_findings(_environ_reads)
    stray = {f: [(line, fn) for line, fn in reads
                 if fn not in ENV_READS.get(f, ())]
             for f, reads in found.items()}
    stray = {f: reads for f, reads in stray.items() if reads}
    assert not stray, stray
    assert {f: {fn for _l, fn in r} for f, r in found.items()} == ENV_READS


def test_environ_guard_sees_a_read():
    src = '''
import os
from os import environ
def build_session():
    return os.environ.get("A", "1")
def f():
    return os.getenv("B"), os.environ["C"]
X = os.environ.get("D")
def g(env=os.environ):
    return env.get("E"), os.path.join("a", "b")
'''
    assert _environ_reads(ast.parse(src)) == [
        (3, None), (5, "build_session"), (7, "f"), (8, None), (9, "g")]


BLOOM_GEOMETRY = ("_bloom_position", "BLOOM_K")


def _bloom_geometry_names(tree):
    """(line, name) of every name, attribute or import naming the Bloom
    hash functions."""
    return sorted({
        (n.lineno, name) for n in ast.walk(tree)
        for name in ([a.name for a in n.names]
                     if isinstance(n, ast.ImportFrom)
                     else [getattr(n, "id", getattr(n, "attr", None))])
        if name in BLOOM_GEOMETRY})


def test_only_ops_names_the_bloom_geometry():
    """The batch op and the stream drain fold and probe through
    ``ops.bloom_bits`` and ``ops.bloom_probe``; a module that computes bit
    positions itself is a second fold or probe that can drift from them
    (a drifted fold reads as false negatives)."""
    found = _package_findings(_bloom_geometry_names, "__spark_entry__.py")
    assert set(found) == {"htmlparser_spark/ops.py"}, found


def test_bloom_guard_sees_a_name():
    src = '''
from htmlparser_spark.ops import BLOOM_K, BLOOM_M, _bloom_position
from ..ops import bloom_bits
def f(c):
    return [_bloom_position(c, j) for j in range(BLOOM_K)]
g = ops._bloom_position
def h():
    return ops.BLOOM_K, ops.BLOOM_M, bloom_bits("h")
'''
    assert _bloom_geometry_names(ast.parse(src)) == [
        (2, "BLOOM_K"), (2, "_bloom_position"), (5, "BLOOM_K"),
        (5, "_bloom_position"), (6, "_bloom_position"), (8, "BLOOM_K")]


@pytest.fixture(scope="module")
def spark():
    s = (SparkSession.builder.master("local[2]")
         .appName("rowmap-tests")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
    yield s
    s.stop()


def _plan(df):
    """Class name of the root of ``df``'s analyzed plan, and the plan."""
    plan = df._jdf.queryExecution().analyzed()
    return plan.getClass().getSimpleName(), plan.toString()


def test_local_frame_builds_no_python_process(spark):
    """Runs before any other Python stage of this module's session, whose
    worker pool is then empty: an RDD-backed table would fork the daemon."""
    if not os.path.isdir("/proc/self"):
        pytest.skip("reads the process tree from /proc")
    before = set(descendants(os.getpid()))
    rows = [(i, f"h{i}") for i in range(320)]
    assert local_frame(spark, rows, "k long, h string").collect() == rows
    assert set(descendants(os.getpid())) - before == set()
    if len(before) == 1:  # only the JVM: the pool is cold, so the list
        # path must show up, or the check above could not fail
        spark.createDataFrame(rows, "k long, h string").collect()
        assert set(descendants(os.getpid())) - before


@pytest.mark.parametrize("rows,schema", [
    ([], "part_key long"),
    ([(1, None), (None, 2)], "a bigint, b bigint"),
    ([("a.com", "/p", 1)], "host string, prefix string, allow int"),
])
def test_local_frame_is_a_local_relation(spark, rows, schema):
    df = local_frame(spark, rows, schema)
    root, plan = _plan(df)
    assert root == "LocalRelation" and "LogicalRDD" not in plan
    assert df.schema == DataType.fromDDL(schema)
    assert [tuple(r) for r in df.collect()] == rows


def test_local_frame_takes_manifest_rows(spark, tmp_path):
    """The resume path re-ships the lineage manifest it collected: ``Row``s
    with bigint, boolean, string and int fields."""
    path = str(tmp_path / "_lineage")
    written = [Row(part_key=k, n_rows=3 * k, n_ok=k, n_bytes=1 << 40,
                   n_errors=0, checksum=-k, transcode=k % 2 == 0,
                   lang=None if k % 2 else "en", buckets=16, format=2)
               for k in range(5)]
    local_frame(spark, written, LINEAGE_SCHEMA).write.parquet(path)
    rows = spark.read.schema(LINEAGE_SCHEMA).parquet(path).collect()
    df = local_frame(spark, rows, LINEAGE_SCHEMA)
    root, plan = _plan(df)
    assert root == "LocalRelation" and "LogicalRDD" not in plan
    assert df.schema == LINEAGE_SCHEMA
    assert sorted(df.collect()) == sorted(rows) == written


def test_flat_map_empty_batches_dropped_and_expanded_rows(spark):
    # the test's functions are closures, shipped by value: workers need
    # not import this test module
    def rows(i):
        """0 rows when i % 3 == 0, 1 row when 1, i rows when 2."""
        return [(i, f"r{j}", j) for j in range({0: 0, 1: 1, 2: i}[i % 3])]

    n, parts = 9, 16  # more partitions than ids: most batches are empty,
    # and the ids 0, 3, 6 alone in a partition yield a batch with no
    # output row, which goes back as an empty batch of the output schema
    schema = "k long, tag string, n int"
    arrow = arrow_schema(schema)
    (none, two) = _flat_map(rows, ("id",), arrow,
                            [pa.RecordBatch.from_pydict({"id": [3]}),
                             pa.RecordBatch.from_pydict({"id": [1, 2]})])
    assert none.num_rows == 0 and none.schema == arrow
    assert two.schema == arrow
    assert two.to_pylist() == [dict(zip(("k", "tag", "n"), r))
                               for r in rows(1) + rows(2)]
    ids = id_range(spark, n, parts)
    assert ids.rdd.getNumPartitions() == parts
    out = flat_map(ids, rows, ["id"], schema)
    assert out.columns == ["k", "tag", "n"]
    assert [t for _c, t in out.dtypes] == ["bigint", "string", "int"]
    got = sorted(tuple(r) for r in out.collect())
    exp = sorted(row for i in range(n) for row in rows(i))
    assert got == exp
    assert len(got) == 3 + (2 + 5 + 8)


def test_flat_map_column_order_follows_cols(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "n long, s string")
    out = flat_map(df, lambda s, n: [(f"{s}{n}", n * 10)], ["s", "n"],
                   "sn string, n10 long")
    assert sorted(tuple(r) for r in out.collect()) == [("a1", 10),
                                                        ("b2", 20)]


def test_flat_map_every_row_dropped(spark):
    out = flat_map(id_range(spark, 5, 2), lambda i: [], ["id"], "k long")
    assert out.columns == ["k"]
    assert out.count() == 0

