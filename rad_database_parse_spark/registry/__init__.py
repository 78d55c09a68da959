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

Prepared plans: ``QueryDef.fn`` memoizes the analyzed logical plan of each
build in ``_PLANS``, keyed by ``(name, sf_dir)``. A call that finds an entry
built in the same JVM session, under an equal ``spark.conf.getAll``
snapshot, over input files whose ``catalog.io.file_version`` is unchanged,
returns a fresh ``Dataset.ofRows(session, plan)``: it skips the Python
build and the analysis, and still runs optimization, physical planning,
AQE and every stage. Only a build that launched no Spark job and whose plan
is deterministic, calls no Python UDF and reads only local files (or a
``Range`` / ``OneRowRelation``) is memoized; anything else builds every
time. So a builder must derive its plan from its inputs, ``sf_dir`` and the
session conf alone. ``register`` returns the raw builder, so direct imports
never touch the memo; ``session.clear_caches`` empties it. There is no knob.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass
from collections.abc import Callable

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

from ..catalog.io import file_version


@dataclass(frozen=True)
class QueryDef:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL over the pre-registered views, or None


_REGISTRY: dict[str, QueryDef] = {}


@dataclass
class _Prepared:
    """One memoized build and what it was built under."""

    session: object  # py4j handle of the JVM SparkSession
    conf: str  # that session's conf when the build started
    inputs: tuple  # ((local path, file_version(path)), ...)
    plan: object  # py4j handle of the analyzed LogicalPlan
    hits: int = 0


# (name, sf_dir) -> the last eligible build; at most one entry per key.
_PLANS: dict[tuple[str, str], _Prepared] = {}

# Every Dataset over a plan adds its id to a set tagged on the plan's root
# (Spark's ambiguous-self-join check), so an entry is rebuilt after this
# many hits to keep that set bounded.
_MAX_HITS = 1024


def clear_prepared_plans() -> None:
    """Forget every memoized plan; the next call of each query builds."""
    _PLANS.clear()


@functools.cache
def _jvm_refs(jvm) -> tuple:
    """The JVM handles the memo uses, looked up once per gateway (each
    dotted name costs a py4j round trip per segment)."""
    patterns = jvm.org.apache.spark.sql.catalyst.trees.TreePattern
    return (
        jvm.org.apache.spark.sql.classic.Dataset,
        patterns.PYTHON_UDF(),
        patterns.GENERATE(),
    )


def _conf_snapshot(jsession) -> str:
    # one string from the JVM, not a py4j call per conf
    return jsession.conf().getAll().toString()


def _calls_python_udtf(plan, generate) -> bool:
    """Whether a ``Generate`` in `plan` runs a Python UDTF. A UDTF carries
    no tree pattern of its own, so this walks down only the subtrees that
    hold a ``Generate``."""
    if not plan.containsPattern(generate):
        return False
    if (
        plan.nodeName() == "Generate"
        and plan.generator().getClass().getSimpleName() == "PythonUDTF"
    ):
        return True
    children = plan.children()
    return any(
        _calls_python_udtf(children.apply(i), generate)
        for i in range(children.length())
    )


def _prepare(spark: SparkSession, df: DataFrame, conf: str) -> _Prepared | None:
    """The memo entry for a fresh build `df`, or None when its plan may not
    be replayed: it is nondeterministic, calls a Python UDF (scalar,
    aggregate, map or table function), or has a leaf other than a
    ``LogicalRelation`` over local paths, a ``Range`` or a
    ``OneRowRelation`` (subquery plans included)."""
    _, python_udf, generate = _jvm_refs(spark._jvm)
    plan = df._jdf.queryExecution().analyzed()
    subqueries = plan.subqueriesAll()
    inputs = []
    for p in [plan] + [subqueries.apply(i) for i in range(subqueries.length())]:
        if (
            not p.deterministic()
            or p.containsPattern(python_udf)
            or _calls_python_udtf(p, generate)
        ):
            return None
        leaves = p.collectLeaves()
        for i in range(leaves.length()):
            leaf = leaves.apply(i)
            kind = leaf.nodeName()
            if kind in ("Range", "OneRowRelation"):
                continue
            if kind != "LogicalRelation":
                return None
            try:  # only a HadoopFsRelation has a file index
                roots = leaf.relation().location().rootPaths().mkString("\n")
            except Py4JError:
                return None
            for uri in roots.split("\n"):  # qualified: file:/abs/path
                path = uri[len("file:"):]
                version = file_version(path) if uri.startswith("file:/") else None
                if version is None:
                    return None
                inputs.append((path, version))
    return _Prepared(spark._jsparkSession, conf, tuple(inputs), plan)


def _memoized(name: str, fn):
    """`fn` behind the prepared-plan memo (see the module docstring)."""

    @functools.wraps(fn)
    def build(spark, sf_dir):
        jsession = spark._jsparkSession
        key = (name, sf_dir)
        conf = _conf_snapshot(jsession)
        hit = _PLANS.get(key)
        if (
            hit is not None
            and hit.session is jsession
            and hit.conf == conf
            and hit.hits < _MAX_HITS
            and all(file_version(p) == v for p, v in hit.inputs)
        ):
            hit.hits += 1
            dataset = _jvm_refs(spark._jvm)[0]
            return DataFrame(dataset.ofRows(jsession, hit.plan), spark)
        _PLANS.pop(key, None)
        dag = spark.sparkContext._jsc.sc().dagScheduler()
        jobs = dag.numTotalJobs()
        df = fn(spark, sf_dir)
        if dag.numTotalJobs() == jobs:
            entry = _prepare(spark, df, conf)
            if entry is not None:
                _PLANS[key] = entry
        return df

    return build


def register(name: str, oracle: str | None):
    """Register `fn` as query `name`. ``QueryDef.fn`` is `fn` behind the
    prepared-plan memo; the decorator returns `fn` itself."""

    def deco(fn):
        if name in _REGISTRY:  # a silent overwrite once hid a whole op
            raise ValueError(
                f"duplicate registry name {name!r}: already registered by "
                f"{_REGISTRY[name].fn.__module__}"
            )
        _REGISTRY[name] = QueryDef(fn=_memoized(name, fn), oracle=oracle)
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
