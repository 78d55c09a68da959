"""funnel_view_click_purchase against its DuckDB oracle on hand-built
events. Every testdata scale saturates the funnel (every viewer clicks and
purchases), so the registry-wide oracle check cannot tell a wrong funnel
from a right one; here users drop out at each stage, and ties and nulls
sit on the stage boundaries."""

from datetime import datetime, timedelta

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from rad_database_parse_spark.registry import all_queries
from rad_database_parse_spark.registry.events_ops import funnel_view_click_purchase

T0 = datetime(2024, 1, 1)

# (user_id, event_type, seconds after T0 or None for a null ts)
EVENTS = [
    (1, "view", 10), (1, "click", 20), (1, "purchase", 30),  # converts
    (2, "view", 10),  # drops after viewing
    (3, "view", 10), (3, "click", 20),  # drops after clicking
    (3, "purchase", 5),  # purchase only before the click
    (4, "view", 10), (4, "view", 20), (4, "click", 10),  # click ties the first view
    (5, "view", 10), (5, "click", 20), (5, "purchase", 20),  # purchase ties the click
    (6, "click", 5), (6, "view", 10),  # click only before the view
    (7, "view", None), (7, "click", 20), (7, "purchase", 30),  # null-ts view only
    (8, "click", 10), (8, "purchase", 20),  # never viewed
    (9, "view", 10), (9, "purchase", 20),  # purchase without a click
    (10, "view", 10), (10, "click", 20), (10, "click", 30),  # first click counts
    (10, "purchase", 25),
    (11, "view", None), (11, "view", 10), (11, "click", 20),  # null ts ignored by MIN
    (12, "other", 1), (12, "view", 2), (12, "click", 3),  # other types ignored
    (12, "purchase", 4),
]
EXPECTED = {"n_viewed": 11, "n_clicked_after_view": 6, "n_purchased_after_click": 3}


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("funnel")
    n = len(EVENTS)
    pq.write_table(
        pa.table({
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(
                [None if s is None else T0 + timedelta(seconds=s) for _, _, s in EVENTS],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([u for u, _, _ in EVENTS], pa.int64()),
            "event_type": [e for _, e, _ in EVENTS],
            "value": pa.array([1.0] * n),
            "props": ["{}"] * n,
        }),
        d / "events.parquet",
    )
    return str(d)


def test_funnel_matches_oracle_when_users_drop_out(spark, events_dir):
    got = funnel_view_click_purchase(spark, events_dir).collect()
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{events_dir}/events.parquet'")
        cur = con.execute(all_queries()["funnel_view_click_purchase"].oracle)
        names = [c[0] for c in cur.description]
        oracle = [dict(zip(names, row)) for row in cur.fetchall()]
    finally:
        con.close()
    assert oracle == [EXPECTED]
    assert [r.asDict() for r in got] == oracle


def test_funnel_runs_three_jobs(spark, sf_dir, count_jobs):
    # one shuffle into the per-user windows, one into the global count
    funnel_view_click_purchase(spark, sf_dir).collect()  # warm the schema memo
    jobs, _ = count_jobs(lambda: funnel_view_click_purchase(spark, sf_dir).collect())
    assert jobs == 3
