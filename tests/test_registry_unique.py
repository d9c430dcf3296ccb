"""Guard against registry-key shadowing: two modules registering the
same name must fail loudly instead of silently dropping the earlier
query from the correctness gate (caught live in round 10: a new
module re-used 'llm_repetition' and shadowed the round-3 entry when
QUERIES was built by ``dict.update``).  Spark-free."""

import ast
import os
import subprocess
import sys

import pytest

PKG = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "lcmap_blackmagic_spark", "registry")


def test_duplicate_registration_raises():
    from lcmap_blackmagic_spark.registry import QUERIES, base

    name = next(iter(QUERIES))
    spec = QUERIES[name]
    with pytest.raises(ValueError, match=name):
        base.register({name: {"fn": None, "sql": None}})
    assert QUERIES[name] is spec          # the first entry is kept


def test_register_literals_have_no_repeated_keys():
    """``register({...})`` takes a dict literal, and Python keeps only
    the last of two equal keys in a literal before ``register`` ever
    sees them — so the literal itself must not repeat a key."""
    calls = 0
    for f in sorted(os.listdir(PKG)):
        if not f.endswith(".py"):
            continue
        with open(os.path.join(PKG, f)) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Name)
                    and node.func.id == "register"
                    and node.args and isinstance(node.args[0], ast.Dict)):
                calls += 1
                keys = [k.value for k in node.args[0].keys]
                dups = {k for k in keys if keys.count(k) > 1}
                assert not dups, f"{f}: repeated register keys {dups}"
    assert calls >= 10                    # one per domain module


def test_each_registry_module_imports_first():
    """Any registry module can be the first one imported (the
    round-numbered layout crashed with a circular ImportError when an
    extension module came before ``registry``).  One child process;
    the package is dropped from ``sys.modules`` before each import,
    so each module starts the package's import graph afresh."""
    modules = sorted(f[:-3] for f in os.listdir(PKG)
                     if f.endswith(".py") and f != "__init__.py")
    script = (
        "import importlib, sys\n"
        f"for m in {modules!r}:\n"
        "    for k in [k for k in sys.modules\n"
        "              if k.startswith('lcmap_blackmagic_spark')]:\n"
        "        del sys.modules[k]\n"
        "    importlib.import_module('lcmap_blackmagic_spark.registry.' + m)\n")
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=os.path.dirname(os.path.dirname(PKG)),
        capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
