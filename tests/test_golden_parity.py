"""Golden-output parity against the reference's shipped artifact.

The reference repo ships its de-facto golden output: ``main.db`` with 532
``rad_table`` rows across 10 of the 12 corpus PDFs (loader main.py:88-106,
recorded in BASELINE.md). Real extraction needs camelot/Ghostscript (absent
here), so parity is checked in two layers:

1. the golden artifact itself still says what BASELINE.md recorded (catches
   baseline drift / a wrong transcription of the numbers we grade against);
2. a fixture cell-grid shaped like the extraction stage's output — the
   golden number of valid rows per file, plus the noise the pipeline must
   remove (PI/abbreviation tables, sparse rows, duplicate rows, a re-run of
   an already-loaded file) — run through the SAME operator chain as
   ``etl_pipeline_end_to_end`` reproduces the golden per-file distribution
   exactly. If classification keywords, the density gate, normalization, or
   dedup semantics drift from the reference's, this distribution breaks.
"""

import os
import sqlite3

import pytest
from pyspark.sql import functions as F

from rad_database_parse_spark.operators.core import (
    anti_join_dedup,
    classify_title,
    normalize_expr,
    project_with_lineage,
    row_validity_filter,
)

GOLDEN_DB = "/root/reference/main.db"

# BASELINE.md's record of the golden artifact (source: main.db, queried).
GOLDEN_PER_FILE = {
    "2006-nasa-compendium.pdf": 28,
    "2007-nasa-compendium.pdf": 23,
    "2010-nasa-compendium.pdf": 50,
    "2011-nasa-compendium.pdf": 91,
    "2013-nasa-compendium.pdf": 95,
    "2014-nasa-compendium.pdf": 86,
    "2015-nasa-compendium.pdf": 64,
    "2016-nasa-compendium.pdf": 67,
    "2017-nasa-compendium.pdf": 16,
    "2018-nasa-compendium.pdf": 12,
}
GOLDEN_TOTAL = 532
# corpus files that contribute no rows (docs/ has 12 PDFs, 10 contribute)
NOISE_ONLY_FILES = ["2005-nasa-compendium-b.pdf", "2019-nasa-compendium.pdf"]


@pytest.mark.skipif(
    not os.path.exists(GOLDEN_DB),
    reason=f"needs the reference's shipped database at {GOLDEN_DB}",
)
def test_reference_golden_artifact_matches_baseline_record():
    con = sqlite3.connect(f"file:{GOLDEN_DB}?mode=ro", uri=True)
    try:
        cur = con.cursor()
        (total,) = cur.execute("SELECT COUNT(*) FROM rad_table").fetchone()
        assert total == GOLDEN_TOTAL
        dist = dict(
            cur.execute(
                "SELECT source_paper_filename, COUNT(*) FROM rad_table GROUP BY 1"
            ).fetchall()
        )
        assert dist == GOLDEN_PER_FILE
        # every other data table is empty in the shipped artifact
        for tbl in ("paper_table", "abbreviation_table", "operational_amplifiers",
                    "memory", "transistors", "voltage_references",
                    "voltage_regulators", "diodes"):
            (n,) = cur.execute(f"SELECT COUNT(*) FROM {tbl}").fetchone()
            assert n == 0, tbl
    finally:
        con.close()


def _fixture_grid(spark):
    """Extraction-stage-shaped cells: per contributing file, the golden
    number of valid rows under a rad-classified title, plus every noise
    shape the pipeline must reject."""
    rows = []
    for fname, n in GOLDEN_PER_FILE.items():
        title = f"TID and SEE Test Results for {fname}"
        for i in range(n):
            rows.append((fname, title, f"P-{fname}-{i}",
                         f"  Vendor {i % 7}  ", f"pass < {i % 90} krad"))
        # duplicate of the first valid row — exact-dup dedup must collapse it
        rows.append((fname, title, "P-%s-0" % fname, "  Vendor 0  ",
                     "pass < 0 krad"))
        # sparse row: only 1/3 mapped columns filled -> density gate drops it
        rows.append((fname, title, f"P-{fname}-sparse", None, None))
        # PI and abbreviation tables -> classified out entirely
        rows.append((fname, "Principal Investigators", "Dr. Ada", "GSFC", "n/a"))
        rows.append((fname, "Abbreviations and Acronyms", "TID",
                     "Total Ionizing Dose", "n/a"))
    for fname in NOISE_ONLY_FILES:
        # files whose every table is rejected contribute nothing
        rows.append((fname, "Principal Investigators", "Dr. Grace", "JPL", "n/a"))
        rows.append((fname, "Unrelated heading", "X-1", "Someone", "n/a"))
    return spark.createDataFrame(
        rows, ["source", "title", "part_number", "manufacturer", "results"]
    )


def _run_pipeline(cells):
    """The etl_pipeline_end_to_end operator chain (registry/etl_ops.py),
    minus the synthetic-grid generation: classify -> density -> normalize ->
    project(+lineage) -> exact dedup."""
    classified = cells.withColumn(
        "table_type", classify_title("title")
    ).filter(F.col("table_type") == "rad")
    dense = row_validity_filter(
        classified, ["part_number", "manufacturer", "results"], threshold=0.5
    )
    normalized = dense.select(
        "title", "source",
        normalize_expr("part_number").alias("part_number"),
        normalize_expr("manufacturer").alias("manufacturer"),
        normalize_expr("results").alias("results"),
    )
    projected = project_with_lineage(
        normalized,
        {"part_number": "part_number", "manufacturer": "manufacturer",
         "results": "results"},
        source_paper=F.col("title"),
        source_paper_filename=F.col("source"),
    )
    return projected.dropDuplicates()


@pytest.fixture(scope="module")
def pipeline_out(spark):
    out = _run_pipeline(_fixture_grid(spark)).persist()
    out.count()
    yield out
    out.unpersist()


def test_pipeline_reproduces_golden_distribution(pipeline_out):
    dist = {
        r.source_paper_filename: r.n
        for r in pipeline_out.groupBy("source_paper_filename")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert dist == GOLDEN_PER_FILE
    assert sum(dist.values()) == GOLDEN_TOTAL


def test_rerun_of_loaded_file_is_idempotent(pipeline_out, spark):
    # the reference skips files whose source_paper is already loaded
    # (main.py:88-91 check_if_exists); the Spark form is an anti-join on the
    # lineage key — re-offering an already-loaded file adds zero rows.
    rerun = pipeline_out.filter(
        F.col("source_paper_filename") == "2015-nasa-compendium.pdf"
    )
    fresh = anti_join_dedup(rerun, pipeline_out, cols=["source_paper"])
    assert fresh.count() == 0
    merged = pipeline_out.unionByName(fresh)
    assert merged.count() == GOLDEN_TOTAL
