"""Registry contract: what ``__spark_entry__`` exposes.

The names and ``QueryDef``s are the contract; the order ``all_queries()``
returns them in is not. A rename, a removal or a module missing from
``all_queries()``'s imports must fail here, not silently shrink the
inventory. ``QueryDef.fn`` is the builder behind the prepared-plan memo;
``register`` hands the builder itself back to its module.
"""

from __future__ import annotations

import os
import subprocess
import sys

import __spark_entry__
from rad_database_parse_spark import registry
from rad_database_parse_spark.registry import all_queries

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_registry_holds_all_570_queries():
    assert len(all_queries()) == 570


def test_entry_exposes_the_registry():
    queries_by_name = all_queries()
    queries = __spark_entry__.queries()
    assert len(queries) == 570 and all(callable(fn) for fn in queries.values())
    assert queries.keys() == queries_by_name.keys()
    assert all(queries[n] is qd.fn for n, qd in queries_by_name.items())
    oracles = __spark_entry__.oracle_sql()
    assert oracles == {
        n: qd.oracle for n, qd in queries_by_name.items() if qd.oracle is not None
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


def test_query_fn_wraps_the_decorated_builder():
    for name, qd in all_queries().items():
        builder = qd.fn.__wrapped__
        # the module-level name is the builder itself, not the wrapper
        assert getattr(sys.modules[builder.__module__], builder.__name__) is builder, name
        assert qd.fn is not builder
        assert (qd.fn.__module__, qd.fn.__qualname__, qd.fn.__doc__) == (
            builder.__module__, builder.__qualname__, builder.__doc__,
        ), name


def test_register_returns_the_raw_builder():
    def builder(spark, sf_dir):
        return spark.range(1)

    try:
        assert registry.register("contract_probe", None)(builder) is builder
        assert registry._REGISTRY["contract_probe"].fn.__wrapped__ is builder
    finally:
        registry._REGISTRY.pop("contract_probe", None)
