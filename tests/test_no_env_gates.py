"""Source scan, no Spark session: the engine and bench.py read no
``ETIELLE_*`` environment variable.  Each operator has one code path;
an env-selected variant (an A/B gate) must not ship.  Deployment
settings use the ``SPARK_GRAFT_*`` prefix and are allowed."""

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent


def _sources():
    yield from sorted((REPO / "etielle_spark").rglob("*.py"))
    yield REPO / "bench.py"


def _etielle_env_names(path):
    """String constants starting with ``ETIELLE_`` (the env-var names an
    ``os.environ``/``os.getenv`` read would pass), with their line."""
    tree = ast.parse(path.read_text(), filename=str(path))
    return [
        (node.lineno, node.value)
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and node.value.startswith("ETIELLE_")
    ]


def test_no_etielle_env_var_reads():
    files = list(_sources())
    assert len(files) > 10
    found = [
        f"{p.relative_to(REPO)}:{line}: {name}"
        for p in files
        for line, name in _etielle_env_names(p)
    ]
    assert not found, "ETIELLE_* env gates must not ship:\n" + "\n".join(found)

