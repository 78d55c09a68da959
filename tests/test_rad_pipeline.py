"""The rad-table pipeline (operators/rad_pipeline.py).

The first half checks ``rad_rows_from_cells`` in plain Python, one case
per rule it shares with the Catalyst operators of operators/core.py
(density gate, continuation merge, classification) and with the
reference loader (header mapping, validity, dedup). The second half runs
``reference_rad_rows`` on Spark over perfbench's generated compendium
PDFs, whose expected rows the generator knows.
"""

import os
import sys

import pytest

from rad_database_parse_spark.operators.rad_pipeline import (
    RAD_CATEGORIES,
    _title_class,
    rad_rows_from_cells,
    reference_rad_rows,
)

HEADER = ["Part Number", "Manufacturer", "Results", "Dose Rate"]
MAPPED = ["part_number", "manufacturer", "results", "dose_rate"]
ROW = ["LM101", "TI", "Passed", "10"]


def _table(page, tidx, title, grid):
    return [
        ("Doc", page, tidx, title, r, c, v)
        for r, row in enumerate(grid)
        for c, v in enumerate(row)
    ]


def _rec(values, columns=MAPPED):
    """The output row carrying `values` in `columns`, the rest None."""
    got = dict(zip(columns, values))
    return ("f.pdf", "Doc", *(got.get(c) for c in RAD_CATEGORIES))


def _rows(cells, validity="strict"):
    return rad_rows_from_cells("f.pdf", cells, validity)


def test_density_gate_is_strictly_above_a_quarter():
    # 8 filled cells of 32: exactly 0.25 -> the table is dropped
    empty = [[""] * 4 for _ in range(6)]
    assert _rows(_table(1, 0, "TID RESULTS", [HEADER, ROW, *empty])) == []
    # one more filled cell tips it over; only the full row is valid
    empty[0][0] = "x"
    assert _rows(_table(1, 0, "TID RESULTS", [HEADER, ROW, *empty])) == [
        _rec(ROW)
    ]


def test_continuation_adopts_last_dense_anchor_and_drops_header():
    cells = (
        _table(1, 0, "TID RESULTS", [HEADER, ROW])
        # a sparse rad anchor (4 of 16 cells filled) is gated out first,
        # so it cannot become the continuation's anchor
        + _table(1, 1, "SEE RESULTS", [HEADER[::-1]] + [[""] * 4] * 3)
        + _table(2, 0, "", [HEADER, ["AD590", "ADI", "Failed", "50"]])
    )
    # density validity would keep a repeated header row if it survived
    assert _rows(cells, "density") == [
        _rec(ROW),
        _rec(["AD590", "ADI", "Failed", "50"]),
    ]


def test_continuation_before_any_anchor_is_dropped():
    assert _rows(_table(1, 0, "", [HEADER, ROW])) == []
    assert _rows(_table(1, 0, None, [HEADER, ROW])) == []


@pytest.mark.parametrize("title", ["\n", "\t"])
def test_tab_or_newline_title_is_an_anchor(title):
    # Catalyst's trim strips spaces only: this title anchors, classifies
    # as nothing, and so drops its own rows and the continuation's
    cells = (
        _table(1, 0, "TID RESULTS", [HEADER, ROW])
        + _table(2, 0, title, [HEADER, ["AD590", "ADI", "Failed", "50"]])
        + _table(3, 0, "", [HEADER, ["HS117", "ISL", "SEL free", "1"]])
    )
    assert _rows(cells) == [_rec(ROW)]


def test_space_only_title_continues():
    cells = _table(1, 0, "TID RESULTS", [HEADER, ROW]) + _table(
        2, 0, "   ", [HEADER, ["AD590", "ADI", "Failed", "50"]]
    )
    assert _rows(cells) == [_rec(ROW), _rec(["AD590", "ADI", "Failed", "50"])]


@pytest.mark.parametrize(
    "title,cls",
    [
        ("TABLE 3: SUMMARY OF TID TEST RESULTS", "rad"),
        ("PRINCIPAL INVESTIGATORS AND DOSE", "principal_investigator"),
        ("ABBREVIATIONS FOR SEE TESTS", "abbreviation"),
        ("ELDRS TEST RESULTS", None),  # 'result' is singular in the list
        ("ACRONYMS", None),  # 'acronym' is singular in the list
        ("Dose-rate table", "rad"),
    ],
)
def test_classification_first_match_with_reference_quirks(title, cls):
    assert _title_class(title) == cls
    got = _rows(_table(1, 0, title, [HEADER, ROW]))
    assert got == ([_rec(ROW)] if cls == "rad" else [])


def test_sparse_header_drops_its_table():
    # two mapped columns: (2 + 2) / 10 < 0.5
    sparse = ["Part Number", "Manufacturer", "Notes", "Other"]
    assert _rows(_table(1, 0, "TID RESULTS", [sparse, ROW])) == []
    # three mapped columns pass, the fourth comes out null
    three = ["Part Number", "Manufacturer", "Results", "Notes"]
    assert _rows(_table(1, 0, "TID RESULTS", [three, ROW])) == [
        _rec(ROW[:3], MAPPED[:3])
    ]


def test_strict_vs_density_validity():
    one_empty = ["LM101", "", "Passed", "10"]
    two_filled = ["LM101", "", "", "10"]
    blank_not_empty = ["LM101", " ", "Passed", "10"]
    cells = _table(
        1, 0, "TID RESULTS", [HEADER, one_empty, two_filled, blank_not_empty]
    )
    assert _rows(cells, "strict") == [_rec(blank_not_empty)]
    assert _rows(cells, "density") == [_rec(one_empty), _rec(blank_not_empty)]


def test_newline_becomes_space():
    cells = _table(1, 0, "TID RESULTS", [HEADER, ["LM\n101", "TI", "a\nb", "10"]])
    assert _rows(cells) == [_rec(["LM 101", "TI", "a b", "10"])]


def test_rows_equal_without_quotes_dedup_to_the_first():
    quoted = ["'LM101'", 'T"I', "Passed", "10"]
    cells = _table(1, 0, "TID RESULTS", [HEADER, quoted, ROW]) + _table(
        2, 0, "", [HEADER, ROW, ["LM101", "TI", "Failed", "10"]]
    )
    assert _rows(cells) == [_rec(quoted), _rec(["LM101", "TI", "Failed", "10"])]


def test_unmapped_columns_are_null():
    (row,) = _rows(_table(1, 0, "TID RESULTS", [HEADER, ROW]))
    out = dict(zip(["doc_filename", "doc_title", *RAD_CATEGORIES], row))
    assert {c for c, v in out.items() if v is None} == set(RAD_CATEGORIES) - set(
        MAPPED
    )


# ----------------------------------------------------------------------
# Spark: generated compendium PDFs
# ----------------------------------------------------------------------
sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench")
)
import gen  # noqa: E402

SEEDS = [1, 2, 3]


@pytest.fixture(scope="module")
def batches(spark, tmp_path_factory):
    out = {}
    for seed in SEEDS:
        batch = gen.pdf_batch(seed, 1)  # batch 1 re-delivers an earlier file
        d = str(tmp_path_factory.mktemp(f"pdf_seed{seed}"))
        gen.write_pdf_batch(batch, d)
        out[seed] = (spark.read.format("binaryFile").load(d), batch.expected)
    return out


def _landed(df):
    return {(r[0], *r[2:]) for r in df.collect()}


@pytest.mark.parametrize("seed", SEEDS)
def test_strict_rows_equal_generator_expected(spark, batches, seed):
    files, expected = batches[seed]
    strict = _landed(reference_rad_rows(spark, files, "strict"))
    assert strict == expected
    assert _landed(reference_rad_rows(spark, files, "density")) >= strict


def test_classification_matches_catalyst_classify_title(spark):
    from rad_database_parse_spark.operators.core import classify_title

    titles = [
        "TID RESULTS", "ELDRS TEST RESULTS", "ACRONYMS", "Principal dose",
        "abbreviations; SEE", "Let it be", "\tongoing", "doses", "Résult",
    ]
    df = spark.createDataFrame([(t,) for t in titles], "t string")
    got = dict(df.select("t", classify_title("t").alias("c")).collect())
    assert got == {t: _title_class(t) for t in titles}


def test_one_job_without_shuffle(spark, batches):
    files, _ = batches[SEEDS[0]]
    sc = spark.sparkContext
    group = "test_rad_pipeline_one_job"
    sc.setJobGroup(group, "reference_rad_rows collect")
    try:
        reference_rad_rows(spark, files).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert len(jobs) == 1
    # a shuffle would add a stage to the job
    assert len(tracker.getJobInfo(jobs[0]).stageIds) == 1
