"""Query registry — every operator exposed through __spark_entry__.py.

Each entry pairs a Spark query builder ``(spark, sf_dir) -> DataFrame`` with
an equivalent DuckDB oracle SQL string (or None for non-SQL-expressible
operators, which ``tools/check_correctness.py`` checks rows-only). Names
and ``QueryDef``s are the contract; the order ``all_queries()`` returns
them in is not.

Float-parity policy (what makes hash-compare possible across engines):
- money-like 2-decimal columns are cast to DECIMAL before +/* aggregation —
  decimal arithmetic is exact, so both engines produce bit-identical sums;
- divisions happen in double AFTER exact aggregation (IEEE ops on identical
  operands are deterministic);
- genuinely-float quantities (cosines) are rounded before ranking and ties
  break on ids.
"""

from __future__ import annotations

from dataclasses import dataclass
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QueryDef:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL over the pre-registered views, or None


_REGISTRY: dict[str, QueryDef] = {}


def register(name: str, oracle: str | None):
    def deco(fn):
        if name in _REGISTRY:  # a silent overwrite once hid a whole op
            raise ValueError(
                f"duplicate registry name {name!r}: already registered by "
                f"{_REGISTRY[name].fn.__module__}"
            )
        _REGISTRY[name] = QueryDef(fn=fn, oracle=oracle)
        return fn

    return deco


def all_queries() -> dict[str, QueryDef]:
    """Every registered query, as a fresh dict in registration order."""
    # Importing a module registers its queries; a module missing here
    # silently drops them (tests/test_registry_contract.py catches that).
    from . import core_relational  # noqa: F401
    from . import tpch_deep  # noqa: F401
    from . import scalar_functions  # noqa: F401
    from . import sampling_profile  # noqa: F401
    from . import etl_ops  # noqa: F401
    from . import events_ops  # noqa: F401
    from . import llm_ops  # noqa: F401
    from . import pipeline_ops  # noqa: F401
    from . import round5_ops  # noqa: F401
    from . import curation_ops  # noqa: F401
    from . import round5d_ops  # noqa: F401
    from . import round6_ops  # noqa: F401
    from . import round6b_ops  # noqa: F401
    from . import round6c_ops  # noqa: F401
    from . import round6d_ops  # noqa: F401
    from . import round6e_ops  # noqa: F401
    from . import round6f_ops  # noqa: F401
    from . import round6g_ops  # noqa: F401
    from . import round6h_ops  # noqa: F401
    from . import round6i_ops  # noqa: F401
    from . import round6j_ops  # noqa: F401
    from . import round6k_ops  # noqa: F401
    from . import round6l_ops  # noqa: F401
    from . import round7_ops  # noqa: F401
    from . import round7b_ops  # noqa: F401
    from . import round7c_ops  # noqa: F401
    from . import round7d_ops  # noqa: F401
    from . import round7e_ops  # noqa: F401
    from . import round7f_ops  # noqa: F401
    from . import round7g_ops  # noqa: F401
    from . import round7h_ops  # noqa: F401
    from . import round7i_ops  # noqa: F401
    from . import round7j_ops  # noqa: F401
    from . import round7k_ops  # noqa: F401
    from . import round7l_ops  # noqa: F401
    from . import round7m_ops  # noqa: F401
    from . import round7n_ops  # noqa: F401
    from . import round7o_ops  # noqa: F401
    from . import round7p_ops  # noqa: F401
    from . import round7q_ops  # noqa: F401
    from . import round7r_ops  # noqa: F401
    from . import round7s_ops  # noqa: F401
    from . import round7t_ops  # noqa: F401
    from . import round7u_ops  # noqa: F401
    from . import round7v_ops  # noqa: F401
    from . import round7w_ops  # noqa: F401
    from . import round7x_ops  # noqa: F401
    from . import round7y_ops  # noqa: F401
    from . import round7z_ops  # noqa: F401
    from . import round7aa_ops  # noqa: F401
    from . import round7ab_ops  # noqa: F401
    from . import round7ac_ops  # noqa: F401
    from . import round7ad_ops  # noqa: F401
    from . import round7ae_ops  # noqa: F401
    from . import round7af_ops  # noqa: F401
    from . import round7ag_ops  # noqa: F401
    from . import round7ah_ops  # noqa: F401
    from . import round7ai_ops  # noqa: F401
    from . import round7aj_ops  # noqa: F401
    from . import round7ak_ops  # noqa: F401
    from . import round7al_ops  # noqa: F401
    from . import round7am_ops  # noqa: F401
    from . import round7an_ops  # noqa: F401
    from . import round7ao_ops  # noqa: F401
    from . import round7ap_ops  # noqa: F401

    return dict(_REGISTRY)
