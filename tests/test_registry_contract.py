"""Registry contract: what ``__spark_entry__`` exposes.

The names and ``QueryDef``s are the contract; the order ``all_queries()``
returns them in is not. A rename, a removal or a module missing from
``all_queries()``'s imports must fail here, not silently shrink the
inventory.
"""

from __future__ import annotations

import os
import subprocess
import sys

import __spark_entry__
from rad_database_parse_spark.registry import all_queries

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_registry_holds_all_570_queries():
    assert len(all_queries()) == 570


def test_entry_exposes_the_registry():
    registry = all_queries()
    queries = __spark_entry__.queries()
    assert queries.keys() == registry.keys()
    assert all(queries[n] is qd.fn for n, qd in registry.items())
    oracles = __spark_entry__.oracle_sql()
    assert oracles == {
        n: qd.oracle for n, qd in registry.items() if qd.oracle is not None
    }
    assert len(oracles) == 569


def test_all_queries_imports_every_registry_module():
    # A fresh interpreter: in this process other tests may already have
    # imported the module all_queries() forgot, which would hide the gap.
    script = (
        "import importlib, pkgutil\n"
        "import rad_database_parse_spark.registry as reg\n"
        "names = set(reg.all_queries())\n"
        "for m in pkgutil.iter_modules(reg.__path__):\n"
        "    importlib.import_module(f'{reg.__name__}.{m.name}')\n"
        "print(sorted(set(reg._REGISTRY) - names))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    )
    assert out.stdout.strip() == "[]", out.stdout


def test_all_queries_returns_a_fresh_copy():
    first = all_queries()
    assert all_queries() == first
    first.pop(next(iter(first)))
    first["not_a_query"] = None
    assert len(all_queries()) == 570
    assert "not_a_query" not in all_queries()
