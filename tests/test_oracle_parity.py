"""Driver-contract parity: every registered query vs its DuckDB oracle
at sf0.001 (the full sf0.01 gate is the driver's job; this keeps the
suite fast while catching regressions in both implementations)."""

import pytest

import __spark_entry__ as E
from oracle_harness import compare

SF = "/root/testdata/sf0.001"

QUERIES = E.queries()
ORACLES = E.oracle_sql()


# The only registered callables taking parameters beyond (spark, sf_dir).
# A new selector parameter on a registered query is a second
# implementation hiding behind the registered one: keep one shape per
# operator and delete the one that lost its measurement.
EXTRA_PARAMS_ALLOWLIST = {
    "kmeans_embeddings": ("k",),
    "text_bpe_merges": ("n_merges",),
    "text_bpe_encode": ("n_merges",),
    "text_bpe_tokenize_docs": ("n_merges",),
}

# The only environment variables the package reads: session sizing,
# the default corpus and staging dirs, and the two streaming trigger
# settings. An env var that picks between code paths is a process-wide
# selector for a second implementation, the same thing a selector
# parameter is.
ENV_KNOB_ALLOWLIST = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_TMP_DIR",
    "SPARK_GRAFT_STREAM_MFPT",
    "SPARK_GRAFT_STREAM_STATE_PARTS",
}


def test_every_query_has_callable():
    import inspect

    assert len(QUERIES) >= 40
    # r04: every registered query carries a full value oracle
    assert set(QUERIES) == set(ORACLES)
    extra = {}
    for name, fn in QUERIES.items():
        params = tuple(inspect.signature(fn).parameters)
        assert params[:2] == ("spark", "sf_dir"), (name, params)
        if params[2:]:
            extra[name] = params[2:]
    assert extra == EXTRA_PARAMS_ALLOWLIST


def _env_reads(path):
    """Names of the environment variables one module reads through
    ``os.environ.get``, ``os.environ[...]``, ``os.getenv`` or
    ``... in os.environ``. A name held in a module-level string
    constant resolves to its value; any other key expression is
    reported as its source text, so it can never pass the allowlist."""
    import ast

    tree = ast.parse(path.read_text(), filename=str(path))
    consts = {
        t.id: node.value.value
        for node in tree.body
        if isinstance(node, ast.Assign)
        and isinstance(node.value, ast.Constant)
        and isinstance(node.value.value, str)
        for t in node.targets
        if isinstance(t, ast.Name)
    }

    def is_environ(n):
        return ast.unparse(n) == "os.environ"

    def name(key):
        if isinstance(key, ast.Constant) and isinstance(key.value, str):
            return key.value
        if isinstance(key, ast.Name) and key.id in consts:
            return consts[key.id]
        return f"<{ast.unparse(key)}>"

    found = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Call) and n.args:
            f = ast.unparse(n.func)
            if f in ("os.environ.get", "os.getenv", "os.environ.setdefault"):
                found.add(name(n.args[0]))
        elif isinstance(n, ast.Subscript) and is_environ(n.value):
            found.add(name(n.slice))
        elif isinstance(n, ast.Compare) and any(
            is_environ(c) for c in n.comparators
        ):
            found.add(name(n.left))
    return found


def test_package_reads_only_allowlisted_env_vars():
    import pathlib

    import strategy_analyzer_exporter_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    reads = {}
    for path in sorted(root.rglob("*.py")):
        for var in _env_reads(path):
            reads.setdefault(var, []).append(str(path.relative_to(root)))
    assert set(reads) == ENV_KNOB_ALLOWLIST, reads


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, name):
    df = QUERIES[name](spark, SF)
    if name not in ORACLES:
        assert df.count() >= 0
        return
    r = compare(df, ORACLES[name], sf_dir=SF)
    assert r["ok"], f"{name}: {r['detail']}"


def test_entry_smoke(spark):
    df = E.entry(spark)
    assert df.count() > 0


@pytest.mark.parametrize(
    "primary,fold",
    [
        ("bars_rsi", "bars_rsi_fold"),
        ("bars_atr", "bars_atr_fold"),
        ("bars_macd", "bars_macd_fold"),
    ],
)
def test_finance_incremental_bit_equals_fold(spark, primary, fold):
    """The O(n) incremental grouped-map and the O(n²) prefix-fold twin
    execute the same pinned float64 op sequence — every cell must agree
    bit-for-bit (the with_ema / with_ema_fold contract, extended to the
    Wilder/MACD family)."""
    a = sorted(map(tuple, QUERIES[primary](spark, SF).collect()))
    b = sorted(map(tuple, QUERIES[fold](spark, SF).collect()))
    assert len(a) == len(b) and a == b
