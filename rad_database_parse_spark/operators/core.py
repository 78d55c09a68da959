"""Core relational/ETL operators (SURVEY.md §2A), Spark-first.

Each function is a composable DataFrame transform built ONLY from Catalyst
expressions — no Python row loops, no UDFs — so every operator here inherits
whole-stage codegen, predicate pushdown, and AQE. The reference equivalents
(cited per function) are per-row Python loops; the scale story of this module
is that each one becomes a single distributed plan node.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# --------------------------------------------------------------------------
# A13 — string normalization (reference tables.py:178,230; main.py:32,39)
# --------------------------------------------------------------------------
def normalize_expr(col: Column | str, *, lower: bool = True) -> Column:
    """Newline→space, whitespace collapse, trim, optional lowercase."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return F.lower(c) if lower else c


def normalize_strings(
    df: DataFrame, cols: Sequence[str], *, lower: bool = True, suffix: str = ""
) -> DataFrame:
    """Apply normalize_expr to each named column (in place or as `col+suffix`)."""
    out = df
    for c in cols:
        out = out.withColumn(c + suffix, normalize_expr(c, lower=lower))
    return out


# --------------------------------------------------------------------------
# A9 — rule-based classifier: CASE WHEN over word-boundary regex
# (reference tables.py:140-153)
# --------------------------------------------------------------------------
# EXACT reference keyword sets (tables.py:145-153) — the reference
# matches whole words only, and its lists are deliberately quirky:
# 'investigator' singular (so 'INVESTIGATORS' only matches via
# 'principal'), 'abbreviations' plural but 'acronym' singular (so a
# bare 'ACRONYMS' title classifies as NOTHING and the table drops),
# and 'result' singular (so 'ELDRS TEST RESULTS' is NOT rad — verified
# against main.db: the 2017 ELDRS table contributed zero rows).
# Round 7 removed the extra plural forms this engine had added; they
# over-classified real compendium tables the reference drops.
PI_KEYWORDS = ["principal", "investigator"]
ABBREV_KEYWORDS = ["acronym", "abbreviations"]
RAD_KEYWORDS = ["tid", "see", "dd", "ddd", "seu", "let", "ongoing", "dose", "result"]
# first match wins, in this order (the reference's if/elif chain)
TITLE_CLASSES = [
    ("principal_investigator", PI_KEYWORDS),
    ("abbreviation", ABBREV_KEYWORDS),
    ("rad", RAD_KEYWORDS),
]


def _kw_rx(words: Sequence[str]) -> str:
    return r"\b(" + "|".join(words) + r")\b"


def classify_title(title: Column | str) -> Column:
    """Classify a table title → 'principal_investigator' | 'abbreviation' |
    'rad' | NULL (NULL ⇒ caller drops the table, as in type_check,
    tables.py:117-126). First-match-wins order follows the reference."""
    t = F.lower(F.col(title) if isinstance(title, str) else title)
    (name, words), *rest = TITLE_CLASSES
    out = F.when(t.rlike(_kw_rx(words)), F.lit(name))
    for name, words in rest:
        out = out.when(t.rlike(_kw_rx(words)), F.lit(name))
    return out.otherwise(F.lit(None).cast("string"))


# --------------------------------------------------------------------------
# A5 / A12 — density gates (reference tables.py:89,244-249,252-263)
# --------------------------------------------------------------------------
def row_density(cols: Sequence[str]) -> Column:
    """Fraction of non-null, non-empty values among `cols` for each row."""
    n = F.lit(len(cols))
    filled = sum(
        (F.col(c).isNotNull() & (F.trim(F.col(c).cast("string")) != "")).cast("int")
        for c in cols
    )
    return (filled / n).alias("row_density")


def table_density_filter(
    df: DataFrame,
    group_cols: Sequence[str],
    value_cols: Sequence[str],
    threshold: float = 0.25,
) -> DataFrame:
    """Keep groups (tables) whose mean row density exceeds `threshold` —
    the reference's get_table_density gate (tables.py:89). One hash
    aggregation + broadcast-able semi join back; no per-table Python."""
    dens = (
        df.withColumn("_rd", row_density(value_cols))
        .groupBy(*group_cols)
        .agg(F.avg("_rd").alias("_table_density"))
        .filter(F.col("_table_density") > threshold)
        .select(*group_cols)
    )
    return df.join(F.broadcast(dens), on=list(group_cols), how="left_semi")


def row_validity_filter(
    df: DataFrame, mapped_cols: Sequence[str], threshold: float = 0.5
) -> DataFrame:
    """A12: keep rows whose mapped-column density ≥ threshold
    (reference tables.py:252-263)."""
    return df.filter(row_density(mapped_cols) >= threshold)


# --------------------------------------------------------------------------
# A6 — continuation-table union (reference tables.py:90-93)
# --------------------------------------------------------------------------
def continuation_union(parts: Sequence[DataFrame], header_row_col: str = "row_idx") -> DataFrame:
    """Union continuation fragments onto the first fragment, dropping each
    continuation's repeated header row (row_idx==0). unionByName keeps this
    schema-safe; at scale this is a zero-shuffle concatenation of scans."""
    if not parts:
        raise ValueError("continuation_union needs at least one fragment")
    out = parts[0]
    for frag in parts[1:]:
        out = out.unionByName(frag.filter(F.col(header_row_col) > 0))
    return out


def propagate_titles(cells: DataFrame) -> DataFrame:
    """Cell-grid form of A6: a NULL/empty table_title marks a page-break
    continuation; propagate the last non-null title forward in document order
    so continuation fragments regroup with their parent table."""
    w = (
        Window.partitionBy("doc_filename")
        .orderBy("page", "table_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    title = F.when(F.trim(F.col("table_title")) == "", None).otherwise(F.col("table_title"))
    return cells.withColumn(
        "effective_title", F.last(title, ignorenulls=True).over(w)
    )


# --------------------------------------------------------------------------
# A11 — projection + rename + lineage append (reference tables.py:216-242)
# --------------------------------------------------------------------------
def project_with_lineage(
    df: DataFrame,
    mapping: dict[str, str],
    source_paper: str | Column,
    source_paper_filename: str | Column,
) -> DataFrame:
    """Select source columns under canonical names and append the two lineage
    columns the reference carries (tables.py:237-240). `mapping` is
    {canonical_name: source_column}."""
    cols = [normalize_expr(src, lower=False).alias(dst) for dst, src in mapping.items()]
    paper = F.lit(source_paper) if isinstance(source_paper, str) else source_paper
    fname = (
        F.lit(source_paper_filename)
        if isinstance(source_paper_filename, str)
        else source_paper_filename
    )
    # lineage expressions resolve against the INPUT frame (they may reference
    # columns the projection drops), so select everything in one pass
    return df.select(
        *cols, paper.alias("source_paper"), fname.alias("source_paper_filename")
    )


# --------------------------------------------------------------------------
# A14 / A15 / A16 — dedup + existence probes as joins
# (reference database.py:18-32,43-61; main.py:90-92)
# --------------------------------------------------------------------------
def anti_join_dedup(
    new: DataFrame, existing: DataFrame, cols: Sequence[str] | None = None
) -> DataFrame:
    """The reference's O(N²) per-row `SELECT EXISTS` ingest dedup
    (database.py:19) as ONE left-anti join + in-batch dropDuplicates.
    Catalyst plans a shuffled or broadcast anti join; AQE picks at runtime."""
    cols = list(cols or new.columns)
    return new.dropDuplicates(cols).join(
        existing.select(*cols), on=cols, how="left_anti"
    )


def semi_join(probe: DataFrame, against: DataFrame, on: Sequence[str]) -> DataFrame:
    """A15 existence probe as a left-semi join (Catalyst's
    RewritePredicateSubquery target for WHERE EXISTS)."""
    return probe.join(against, on=list(on), how="left_semi")


def exists_probe(df: DataFrame, *conds: Column) -> bool:
    """Scalar A15: `SELECT EXISTS(... LIMIT 1)` — early-out via limit(1).
    Prefer the set form (semi_join) inside pipelines; this is for
    driver-side control flow like the reference's paper-skip (main.py:90)."""
    out = df
    for c in conds:
        out = out.filter(c)
    return len(out.limit(1).take(1)) > 0


# --------------------------------------------------------------------------
# A4 / A23 — top-1 / top-k per group (reference tables.py:33-46,190-202)
# --------------------------------------------------------------------------
def topk_per_group(
    df: DataFrame,
    partition_cols: Sequence[str],
    order_cols: Sequence[Column],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Window row_number ≤ k. Catalyst compiles the k=1 case (and small k
    under AQE) into a partial top-k before the shuffle, so the argmin/argmax
    loops of the reference become shuffle-light."""
    w = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def top1_per_group(
    df: DataFrame, partition_cols: Sequence[str], order_cols: Sequence[Column]
) -> DataFrame:
    """Argmin/argmax per key (A23) — drop the rank column on the way out."""
    return topk_per_group(df, partition_cols, order_cols, 1).drop("rn")


def skyline_2d(df, x_col: str, y_col: str):
    """2-D Pareto skyline (minimize both axes): rows not dominated by any
    other row (other <= on both, < on at least one). The sort-based
    identity replaces the O(N^2) dominance self-join with (a) min-y per
    DISTINCT x, (b) one running-min window over the distinct-x table — the
    only single-partition step, |distinct x| rows, not |rows| — and (c) a
    broadcast join back as a scan-local predicate: dominated iff a strictly
    smaller x saw y <= this row's y, or the same x saw a strictly smaller
    y. Exact ties on both axes survive (non-strict domination needs one
    strict edge). Column-agnostic core behind part_skyline_pareto."""
    from pyspark.sql import Window

    pp = df.groupBy(F.col(x_col).alias("_sky_x")).agg(
        F.min(y_col).alias("_sky_miny")
    )
    w = Window.orderBy("_sky_x").rowsBetween(Window.unboundedPreceding, -1)
    pw = pp.withColumn("_sky_prev", F.min("_sky_miny").over(w))
    dominated = F.coalesce(
        F.col("_sky_prev") <= F.col(y_col), F.lit(False)
    ) | (F.col("_sky_miny") < F.col(y_col))
    return (
        df.join(F.broadcast(pw), df[x_col] == pw["_sky_x"])
        .filter(~dominated)
        .drop("_sky_x", "_sky_miny", "_sky_prev")
    )
