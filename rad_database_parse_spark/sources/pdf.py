"""A2/A3/A4 — the PDF table-extraction source, Spark-shaped.

Reference (tables.py:51-97) runs camelot+Ghostscript per page in a
single-threaded loop. Spark-first shape: ``binaryFile`` scan → one
Arrow-batched ``mapInPandas`` stage that runs the extraction library per
file. ``extract_pdf_cells`` emits the RAW_CELLS_SCHEMA cell grid (doc,
page, table, row, col, value); ``map_pdf_files`` hands each file's cells
to a per-file function in the same task instead, which is how
operators/rad_pipeline.py runs the whole table-grain pipeline (density
gate, continuation merge, classification, header mapping, validity,
dedup) without a shuffle or a second job.

camelot / pdfminer / PyPDF2 are NOT in this container, so the extractor is
pluggable: pass ``extractor=`` (bytes → list of cell tuples). Without one,
the toolchain order is: camelot when importable (the reference's own
stack), else the PURE-PYTHON lattice extractor (``pdf_lattice.py`` —
stdlib-only re-implementation of the camelot-lattice behavior, verified
field-exact against the reference's main.db on the 2006 compendium:
28/28 rows byte-identical). Files the pure extractor cannot parse
(scanned/image-only PDFs, exotic object layouts) degrade gracefully to
zero rows — mirroring the reference's skip-on-missing-metadata behavior
(tables.py:83-84) instead of failing the job.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame

# extractor(filename, content) -> list of
# (doc_title, page, table_idx, table_title, row_idx, col_idx, value)
Extractor = Callable[[str, bytes], list[tuple]]

CELL_COLUMNS = [
    "doc_filename",
    "doc_title",
    "page",
    "table_idx",
    "table_title",
    "row_idx",
    "col_idx",
    "value",
]
CELL_DDL = (
    "doc_filename string, doc_title string, page int, table_idx int, "
    "table_title string, row_idx int, col_idx int, value string"
)


def _pdf_metadata_title(path: str) -> str | None:  # pragma: no cover
    """Document title from PDF metadata — Title+ModDate concatenated with
    the byte-literal artifacts stripped, None (→ whole file skipped) when
    metadata is absent. Matches reference get_pdf_title (tables.py:68-77)
    including its skip-on-missing behavior."""
    import re

    try:
        from pdfminer.pdfdocument import PDFDocument
        from pdfminer.pdfparser import PDFParser

        with open(path, "rb") as fp:
            info = PDFDocument(PDFParser(fp)).info[0]
            raw = f"{info['Title']}{info['ModDate']}"
        return re.sub(r"b'", "", raw).replace("'", "").replace('"', "")
    except Exception:
        return None


def _nearest_table_heading(table, text_objs) -> str:  # pragma: no cover
    """Closest short text above a table's top edge, extended by one
    fragment once a candidate mentions 'table' — the reference's title
    guess (tables.py:28-48 get_closest_text, itself derived from a public
    StackOverflow answer). '' when no 'table'-bearing heading is found,
    which downstream treats as a continuation fragment (A6)."""
    import math

    bbox = table._bbox
    table_top = ((bbox[0] + bbox[2]) / 2.0, bbox[3])
    best: str | None = None
    best_d = 100.0
    saw_table = False
    for obj in text_objs:
        text = obj.get_text().strip()
        if len(text) >= 50:
            continue
        text_bottom = ((obj.bbox[0] + obj.bbox[2]) / 2.0, obj.bbox[1])
        d = math.dist(text_bottom, table_top)
        if d < best_d:
            if saw_table:
                return f"{best} {text}"
            best = text
            if "table" in text.lower():
                saw_table = True
            best_d = d
    return best if saw_table and best is not None else ""


def _camelot_extractor() -> Extractor | None:
    """Real extractor when the camelot+Ghostscript toolchain is present
    (it is not, in this image — tests/test_pdf_real_extractor.py exercises
    this path and skips itself otherwise). Per file: lattice-flavor table
    detection (line_scale=40, copy_text='v' — the reference's settings,
    tables.py:54), metadata title or whole-file skip, nearest-heading
    title guess per table, cells emitted as the RAW_CELLS grid."""
    try:
        import camelot  # noqa: F401
    except Exception:
        return None

    def run(filename: str, content: bytes) -> list[tuple]:  # pragma: no cover
        import os
        import tempfile

        import camelot
        from camelot.handlers import PDFHandler

        rows: list[tuple] = []
        fd, path = tempfile.mkstemp(suffix=".pdf")
        try:
            with os.fdopen(fd, "wb") as f:
                f.write(content)
            doc_title = _pdf_metadata_title(path)
            if doc_title is None:
                return []  # reference: no metadata → file ignored
            tables = camelot.read_pdf(
                path,
                pages="all",
                line_scale=40,
                flavor="lattice",
                copy_text=["v"],
            )
            handler = PDFHandler(path)
            with camelot.utils.TemporaryDirectory() as tmp:
                for tidx, table in enumerate(tables):
                    handler._save_page(path, table.page, tmp)
                    page_pdf = os.path.join(tmp, f"page-{table.page}.pdf")
                    layout, _dim = camelot.utils.get_page_layout(page_pdf)
                    text_objs = camelot.utils.get_text_objects(
                        layout, ltype="horizontal_text"
                    )
                    ttitle = _nearest_table_heading(table, text_objs)
                    grid = table.df
                    for ridx in range(grid.shape[0]):
                        for cidx in range(grid.shape[1]):
                            rows.append(
                                (
                                    doc_title,
                                    int(table.page),
                                    tidx,
                                    ttitle,
                                    ridx,
                                    cidx,
                                    str(grid.iat[ridx, cidx]),
                                )
                            )
        finally:
            os.unlink(path)
        return rows

    return run


def _lattice_fallback() -> Extractor:
    """The pure-Python camelot-lattice re-implementation (pdf_lattice.py):
    vector-rule grid + span-anchor text assignment + copy_text='v' +
    the reference's metadata-title and nearest-heading quirks."""
    from .pdf_lattice import lattice_extractor

    return lattice_extractor


def map_pdf_files(
    binary_files: DataFrame,
    per_file: Callable[[str, list[tuple]], list[tuple]],
    columns: list[str],
    ddl: str,
    extractor: Extractor | None = None,
) -> DataFrame:
    """binaryFile rows (path, content, ...) → ``per_file(filename, cells)``
    rows, one ``mapInPandas`` pass: each file is extracted and mapped in
    the task that read it. ``cells`` are the extractor's tuples;
    ``columns``/``ddl`` describe the rows ``per_file`` returns."""
    ex = extractor or _camelot_extractor() or _lattice_fallback()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for path, content in zip(pdf["path"], pdf["content"]):
                fname = str(path).rsplit("/", 1)[-1]
                rows.extend(per_file(fname, ex(fname, bytes(content))))
            yield pd.DataFrame(rows, columns=columns)

    return binary_files.select("path", "content").mapInPandas(run, schema=ddl)


def _with_filename(fname: str, cells: list[tuple]) -> list[tuple]:
    return [(fname, *cell) for cell in cells]


def extract_pdf_cells(
    binary_files: DataFrame, extractor: Extractor | None = None
) -> DataFrame:
    """binaryFile rows (path, content, ...) → RAW_CELLS cell grid."""
    return map_pdf_files(
        binary_files, _with_filename, CELL_COLUMNS, CELL_DDL, extractor
    )
