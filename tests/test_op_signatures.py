"""The rule that every registered query takes exactly ``(spark, sf_dir)``:
an operator's parameters are module constants, the values its oracle
hard-codes, so no caller runs a variant that no oracle checks."""
import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# registered queries that take more than (spark, sf_dir), and why
ALLOWED = {
    "embedding_pq_recall": "embedding_pq_recall_trained runs it at k=10, "
                           "n_queries=30, q_lo=200 with the trained codebook",
}


def _defs(tree):
    return {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}


def _extra_params(entry, ops):
    """{query name: its parameters past (spark, sf_dir)} for every entry of
    ``queries()`` in the ``entry`` module AST whose function takes more;
    ``ops.f`` entries resolve in the ``ops`` module AST, bare names in
    ``entry``. A function neither defines is reported as unresolved."""
    (table,) = [n for n in ast.walk(_defs(entry)["queries"])
                if isinstance(n, ast.Dict)]
    found = {}
    for key, value in zip(table.keys, table.values):
        if isinstance(value, ast.Attribute):
            fn = _defs(ops).get(value.attr)
        else:
            fn = _defs(entry).get(getattr(value, "id", None))
        if fn is None:
            found[key.value] = ["<unresolved>"]
            continue
        a = fn.args
        params = [p.arg for p in a.posonlyargs + a.args + a.kwonlyargs]
        params += [f"*{p.arg}" for p in (a.vararg,) if p]
        params += [f"**{p.arg}" for p in (a.kwarg,) if p]
        if params[:2] != ["spark", "sf_dir"] or len(params) > 2:
            found[key.value] = params[2:] or params
    return found


def _parse(path):
    with open(os.path.join(REPO, path), encoding="utf-8") as f:
        return ast.parse(f.read())


def test_registered_queries_take_only_spark_and_sf_dir():
    """A keyword option on a registered op is a second code path that the
    oracle gate never runs."""
    found = _extra_params(_parse("__spark_entry__.py"),
                          _parse("htmlparser_spark/ops.py"))
    stray = {q: p for q, p in found.items() if q not in ALLOWED}
    assert not stray, stray
    # and the allow-list names no query that has since lost its options
    assert set(found) == set(ALLOWED), found


def test_signature_guard_sees_every_extra_parameter():
    entry = ast.parse('''
def queries():
    return {"a": ops.a, "b": ops.b, "c": c, "d": ops.d, "e": e, "f": ops.f,
            "g": ops.missing}
def c(spark, sf_dir, *rest):
    pass
def e(spark, sf_dir):
    pass
''')
    ops = ast.parse('''
def a(spark, sf_dir):
    pass
def b(spark, sf_dir, k=3, *, trained=False):
    pass
def d(spark, path):
    pass
def f(spark, sf_dir, **kw):
    pass
''')
    assert _extra_params(entry, ops) == {
        "b": ["k", "trained"], "c": ["*rest"], "d": ["spark", "path"],
        "f": ["**kw"], "g": ["<unresolved>"]}
