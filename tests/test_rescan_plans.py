"""Round-12 rescan-fix plan guard.

The r12 plan audit (an explain("formatted") sweep of every registry op)
flagged seven ops whose bounded intermediate fanned out into many
branches, re-embedding the fact-grain build in the STATIC plan (26-132
parquet scans). Isolated interleaved timing at sf0.1 then showed that for
six of them AQE's runtime exchange reuse already elided the duplicate
work, and adding a persist + eager count made them SLOWER (the r10 twfe
lesson: splitting one pipelined lazy plan into sequential jobs costs more
than the exchanges it saves) — those six were measured and REVERTED,
recorded in OPTIMIZATION_r12.md §2.

The one real offender was `orders_cube_view_selection_greedy`: its
8-row lattice persist FAILED CacheManager substitution (mask predicates
pushed below the cube's Expand made the branches non-identical, which
also defeated AQE exchange reuse), so the CUBE aggregate genuinely ran
~66× (4.3s at sf0.1). The fix runs the HRU greedy driver-side over the
collected 8-row size table (1.8-1.9s, values oracle-identical at
sf0.001/0.01/0.1). This test pins that shape.
"""

from rad_database_parse_spark.plans import formatted_plan
from rad_database_parse_spark.registry import all_queries


def test_cube_view_selection_plan_is_fact_free(spark, sf_dir):
    reg = all_queries()
    plan = formatted_plan(
        reg["orders_cube_view_selection_greedy"].fn(spark, sf_dir)
    )
    assert "Scan parquet" not in plan, (
        "the HRU greedy must run driver-side over the collected 8-row "
        "lattice; a parquet scan in the returned plan means the "
        "distributed unrolling (132-scan plan, failed cache "
        "substitution) is back"
    )
    assert "Expand" not in plan  # the CUBE pass happens in the builder
