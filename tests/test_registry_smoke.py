"""Every registry query must run at sf0.001 with a stable, named schema.

(Full oracle comparison runs via tools/check_correctness.py at sf0.01;
this guards the registry surface cheaply inside pytest.)"""

import os

import pytest

from rad_database_parse_spark.registry import all_queries
from rad_database_parse_spark.registry.round7ap_ops import _DOCS_DIR

# pdf_real_lattice_goldens reads PDFs shipped only with the reference repo
_NEEDS_REFERENCE_DOCS = pytest.mark.skipif(
    not os.path.isdir(_DOCS_DIR),
    reason=f"needs the reference compendium PDFs in {_DOCS_DIR}",
)
QUERIES = [
    pytest.param(
        name,
        qd,
        id=name,
        marks=_NEEDS_REFERENCE_DOCS if name == "pdf_real_lattice_goldens" else (),
    )
    for name, qd in sorted(all_queries().items())
]


@pytest.mark.parametrize("name,qd", QUERIES)
def test_query_runs_and_has_named_columns(spark, sf_dir, name, qd):
    df = qd.fn(spark, sf_dir)
    cols = df.columns
    assert cols, name
    assert len(set(cols)) == len(cols), f"duplicate column names in {name}"
    # no auto-generated aggregate names may leak (oracle hash needs aliases)
    assert not any("(" in c for c in cols), f"unaliased column in {name}: {cols}"
    assert df.limit(1).count() >= 0
