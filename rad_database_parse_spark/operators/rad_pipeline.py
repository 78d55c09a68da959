"""The reference's END-TO-END rad-table workflow (E1) as one callable —
binaryFile rows → cell grid → A5 density gate → A6 continuation merge →
A9 classification → A10 per-table fuzzy header mapping → row validity →
A14 exact dedup.  Reference chain: tables.py get_all_tables (51-97) +
find_table_type (140-153) + map_header/map_row (167-263) +
main.py:88-106 (csv_check's pandas round trip is what makes an empty
mapped cell invalidate its row: '' → NaN → map_row raises).

Everything after extraction is table-grain work inside ONE file: the
continuation merge follows a file's own table order, and every dedup key
contains the file name. So the chain runs as ``rad_rows_from_cells``, a
pure-Python function of one file's cells, called in the same
``mapInPandas`` task that extracted them (sources/pdf.map_pdf_files) —
the reference's own per-file loop, one Spark job, no shuffle and no
driver round trip. Its rules are those of the Catalyst operators in
operators/core.py (classify_title's keyword classes, row_density's
space-only trim); tests/test_rad_pipeline.py pins each one.

Used by the registry query `pdf_real_lattice_goldens` (driver-checked
against the pinned golden per-file counts), by perfbench's rad_ingest
workload, and by tests/test_rad_pipeline.py.

Known, measured-immaterial divergence (ADVICE r7): the A14 dedup here
keys on all 10 canonical columns (nulls as a sentinel), while the
reference's check_if_exists (database.py:43-60 via map_row's keys)
constrains only the row's OWN mapped columns — a subset match against
every previously-inserted row of the same file. A row from a
subset-mapped table that agrees with an earlier, more-fully-mapped row
on just its own columns would be dropped by the reference but kept
here. A one-off probe replayed BOTH semantics over all 10
contributing compendium PDFs (the probe is in git history up to commit
6582a12): per-file counts are IDENTICAL on every file (no table-pair
in the corpus has a containment-related mapped set with colliding
values), so the simpler whole-key dedup is kept.
"""

from __future__ import annotations

import re
from functools import partial

from pyspark.sql import DataFrame, SparkSession

from .core import TITLE_CLASSES, _kw_rx
from .header_map import resolve_header_mapping
from ..sources.pdf import map_pdf_files

RAD_CATEGORIES = [
    "part_number",
    "manufacturer",
    "device_function",
    "technology",
    "results",
    "spec",
    "dose_rate",
    "proton_energy",
    "degradation_level",
    "proton_fluence",
]
RAD_COLUMNS = ["doc_filename", "doc_title", *RAD_CATEGORIES]
RAD_DDL = ", ".join(f"{c} string" for c in RAD_COLUMNS)

_TITLE_RX = [(name, re.compile(_kw_rx(words))) for name, words in TITLE_CLASSES]


def _title_class(title: str) -> str | None:
    """core.classify_title on one string: first keyword class that matches."""
    t = title.lower()
    return next((name for name, rx in _TITLE_RX if rx.search(t)), None)


def _nonblank(v: str | None) -> bool:
    # the same test as Catalyst's trim (core.row_density): it strips ASCII
    # spaces only, so "\t" or "\n" is not blank
    return v is not None and v.strip(" ") != ""


def _table_mapping(title: str, header: dict[int, str]) -> dict[str, int] | None:
    """A9 + A10 for one anchor table: {canonical: column index}, or None
    when the table contributes no rows (not rad, no header row, or a
    mapped header too sparse for map_header: (n + 2) / 10 < 0.5)."""
    if _title_class(title) != "rad" or not header:
        return None
    hdr = [header.get(i, "") for i in range(max(header) + 1)]
    mapping = resolve_header_mapping(hdr, RAD_CATEGORIES)
    return mapping if (len(mapping) + 2) / 10 >= 0.5 else None


def rad_rows_from_cells(
    fname: str, cells: list[tuple], validity: str = "strict"
) -> list[tuple]:
    """One file's extractor cells → its deduped rad-table records.

    `cells` are Extractor tuples (doc_title, page, table_idx, table_title,
    row_idx, col_idx, value); the result rows follow RAD_COLUMNS, with
    unmapped columns None. Tables are visited in (page, table_idx) order:

    - A5: a table survives iff its share of filled cells is > 0.25;
    - A6: a title that is not blank (after stripping spaces) anchors;
      a blank-titled table continues the last surviving anchor — its
      header row is dropped and it uses the anchor's title and mapping —
      and is dropped when no anchor precedes it;
    - A9/A10: see _table_mapping;
    - validity (see reference_rad_rows): "strict" needs every mapped
      cell non-empty, "density" needs >= 3 non-empty mapped cells;
    - newlines in values become spaces, then rows equal after removing
      quote characters are deduped (the first in table order is kept).
    """
    tables: dict[tuple[int, int], tuple[str | None, dict]] = {}
    doc_title = None
    for doc_title, page, tidx, ttitle, ridx, cidx, val in cells:
        grid = tables.setdefault((page, tidx), (ttitle, {}))[1]
        grid.setdefault(ridx, {})[cidx] = val
    out: list[tuple] = []
    seen: set[tuple] = set()
    mapping = None  # the last surviving anchor's, None before any anchor
    for key in sorted(tables):
        title, grid = tables[key]
        vals = [v for row in grid.values() for v in row.values()]
        if sum(map(_nonblank, vals)) / len(vals) <= 0.25:
            continue
        if _nonblank(title):
            mapping = _table_mapping(title, grid.get(0, {}))
        if mapping is None:
            continue
        for ridx in sorted(grid):
            if ridx == 0:
                continue  # an anchor's header, or a repeated one
            rec = {c: grid[ridx].get(i) for c, i in mapping.items()}
            n_ok = sum(v is not None and v != "" for v in rec.values())
            if n_ok < (len(rec) if validity == "strict" else 3):
                continue
            flat = [
                None if rec.get(c) is None else rec[c].replace("\n", " ")
                for c in RAD_CATEGORIES
            ]
            dkey = tuple(
                "\x00" if v is None else v.replace("'", "").replace('"', "")
                for v in flat
            )
            if dkey not in seen:
                seen.add(dkey)
                out.append((fname, doc_title, *flat))
    return out


def reference_rad_rows(
    spark: SparkSession,
    binary_files: DataFrame,
    validity: str = "strict",
) -> DataFrame:
    """binaryFile rows → the reference's deduped rad-table records.

    Output: one row per inserted rad record with `doc_filename`,
    `doc_title`, and the ten canonical columns (unmapped ones null). The
    result is lazy: one job, whose single map stage extracts each file
    and runs rad_rows_from_cells on its cells. `spark` is unused; its
    callers pass it.

    `validity` selects the row-validity regime, because the reference's
    loader had TWO depending on the --csv_bypass flag (main.py:96,
    tables.py:252-263 get_mapped_row_type), and main.db was built
    incrementally across runs with different flags (main.py:90 skips
    already-loaded files, so per-file regimes coexist in one db):

    - "strict": the manual-CSV-gate regime. tables.py csv_check's
      pandas round trip turns every empty mapped cell into NaN, which
      map_row (tables.py:227-236) raises on → ANY empty mapped cell
      invalidates the row. Proven for 2006: main.db's 2006 rows contain
      zero ''-valued fields and the strict count reproduces its 28
      byte-exactly.
    - "density": the --csv_bypass regime. Values reach map_row as the
      strings camelot extracted ('' included, never NaN), so the only
      gate is get_mapped_row_type's density check: a row is valid iff
      (non-empty mapped values + 2 constants) / 10 >= 0.5, and empty
      mapped cells are INSERTED as ''. Proven for 2016: main.db's 2016
      rows include 4 rows with ''-valued mapped fields (ids 3/7/34:
      manufacturer='', technology='', spec=''), which the strict regime
      could never insert, and the density count reproduces its 67
      exactly (the 67th row — part '(ENGINEERING SAMPLES)', dose 0.5,
      degradation >20, main.db id 34 — has empty mapped technology and
      spec cells and is valid only under this rule)."""
    if validity not in ("strict", "density"):
        raise ValueError(f"unknown validity regime: {validity!r}")
    per_file = partial(rad_rows_from_cells, validity=validity)
    return map_pdf_files(binary_files, per_file, RAD_COLUMNS, RAD_DDL)
