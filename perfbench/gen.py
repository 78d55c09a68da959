"""Seeded input generators, one per workload, each with its expected output.

Every generator is a pure function of ``(seed, index)``: the same arguments
give byte-identical files, so a run can build batch ``i`` lazily, right
before the op that consumes it, and still be reproducible. Nothing here
imports Spark; the program under test only ever sees the files written here.
"""

from __future__ import annotations

import os
import random
import re
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def rng_for(seed: int, *parts) -> random.Random:
    """Independent stream per (seed, purpose, index): adding a batch or a
    workload never shifts the inputs of another."""
    return random.Random(repr((seed,) + parts))


def np_rng_for(seed: int, *parts) -> np.random.Generator:
    return np.random.default_rng(list(repr((seed,) + parts).encode()))


# ----------------------------------------------------------------------
# rad_ingest: compendium-style PDFs with lattice tables
# ----------------------------------------------------------------------

CANONICAL = [
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

# Header spellings seen across compendium years. Each one resolves to its
# own canonical column under the reference's fuzzy mapping (partial_ratio
# >= 75, argmax per canonical column); test_gen.py pins that.
HEADER_VARIANTS = {
    "part_number": ["Part Number", "PART NUMBER", "Part\nNumber", "Part number"],
    "manufacturer": ["Manufacturer", "MANUFACTURER", "Manu-\nfacturer"],
    "device_function": ["Device Function", "DEVICE FUNCTION", "Device\nFunction"],
    "technology": ["Technology", "TECHNOLOGY", "Technology Type"],
    "results": ["Results", "RESULTS", "Test Results"],
    "spec": ["Spec", "SPEC", "Specification"],
    "dose_rate": ["Dose Rate", "DOSE RATE", "Dose\nRate", "Dose Rate rad/s"],
    "proton_energy": ["Proton Energy", "PROTON ENERGY", "Proton\nEnergy"],
    "degradation_level": ["Degradation Level", "Deg Level", "DEGRADATION LEVEL"],
    "proton_fluence": ["Proton Fluence", "PROTON FLUENCE", "Proton\nFluence"],
}

RAD_TITLES = [
    "TABLE {n}: SUMMARY OF TID TEST RESULTS",
    "TABLE {n}: TOTAL DOSE TEST RESULTS",
    "TABLE {n}: SEE AND DD TEST RESULTS",
    "TABLE {n}: SUMMARY OF SEU RESULTS",
]
ABBREV_TITLE = "TABLE {n}: ABBREVIATIONS AND ACRONYMS"
PI_TITLE = "TABLE {n}: PRINCIPAL INVESTIGATORS"

_MANUFACTURERS = ["Analog Devices", "Texas Instruments", "Intersil", "Linear Tech",
                  "Microsemi", "Xilinx", "Maxim", "Cypress", "Aeroflex", "Renesas"]
_FUNCTIONS = ["Op Amp", "Voltage Reference", "ADC 12-bit", "DC-DC Converter",
              "SRAM 4Mb", "FPGA", "Comparator", "Line Driver", "LDO Regulator"]
_TECH = ["Bipolar", "CMOS", "BiCMOS", "SiGe", "CMOS SOI", "GaN HEMT", "JFET"]
_RESULTS = ["Passed 100 krad", "Failed 30 krad", "SEL free", "ELDRS sensitive",
            "Param shift 50 krad", "No upsets", "SEFI at 40 MeV"]
_SPECS = ["VCC 5V", "VOS <2mV", "IB <50nA", "ICC <10mA", "VOUT +-1%", "tPD <20ns"]
_DOSE_RATES = ["<1", "0.01", "50", "HDR~65 LDR~30", ">100", "10", "0.5", "~5"]
_ENERGIES = ["200 MeV", "63 MeV", "100 MeV", "N/A", "35 MeV"]
_DEGRADATION = [">50", "20", "<10", "100", "~30", "5"]
_FLUENCES = ["1E11", "5E10", "2E11", "N/A", "1E12"]
_ABBREVS = [("TID", "Total Ionizing Dose"), ("SEE", "Single Event Effect"),
            ("DD", "Displacement Damage"), ("LET", "Linear Energy Transfer"),
            ("ELDRS", "Enhanced Low Dose Rate")]
_PIS = [("K. Label", "NASA GSFC"), ("M. Campola", "NASA GSFC"),
        ("D. Cochran", "MEI"), ("J. Pellish", "NASA GSFC")]

# landscape page; 10 columns of 72pt; 6pt glyphs advance 3pt (no /Widths,
# so every glyph takes the parser's 500/1000 em default) -> <= 22 chars
PAGE_W, PAGE_H = 792.0, 612.0
COL_W, ROW_H, FONT = 72.0, 12.0, 6.0
X0 = 36.0


def _part_number(r: random.Random) -> str:
    return f"{r.choice(['LM', 'AD', 'HS', 'RH', 'UC', 'XC', 'IS'])}{r.randint(100, 9999)}{r.choice(['', 'A', 'AJ', 'RH', 'B'])}"


def _rad_row(r: random.Random) -> dict:
    return {
        "part_number": _part_number(r),
        "manufacturer": r.choice(_MANUFACTURERS),
        "device_function": r.choice(_FUNCTIONS),
        "technology": r.choice(_TECH),
        "results": r.choice(_RESULTS),
        "spec": r.choice(_SPECS),
        "dose_rate": r.choice(_DOSE_RATES),
        "proton_energy": r.choice(_ENERGIES),
        "degradation_level": r.choice(_DEGRADATION),
        "proton_fluence": r.choice(_FLUENCES),
    }


def _pdf_str(s: str) -> str:
    if any(c in s for c in "()\\") or not s.isascii():
        raise ValueError(f"generator text must be plain ASCII: {s!r}")
    return f"({s})"


@dataclass
class _Table:
    title: str  # '' for a continuation fragment
    header: list[str]
    rows: list[list[str]]


def _table_ops(t: _Table, top: float) -> tuple[list[str], float]:
    """Content-stream operators for one ruled table whose top edge is at
    ``top``; returns (ops, bottom y)."""
    grid = [t.header] + t.rows
    ncols = len(t.header)
    heights = [2 * ROW_H] + [ROW_H] * len(t.rows)  # headers may wrap once
    edges = [top]
    for h in heights:
        edges.append(edges[-1] - h)
    bottom = edges[-1]
    x1 = X0 + COL_W * ncols
    ops = ["0.5 w"]
    for y in edges:
        ops.append(f"{X0:.1f} {y:.1f} m {x1:.1f} {y:.1f} l S")
    for j in range(ncols + 1):
        x = X0 + j * COL_W
        ops.append(f"{x:.1f} {top:.1f} m {x:.1f} {bottom:.1f} l S")
    if t.title:
        tw = len(t.title) * 4.0  # 8pt heading
        tx = X0 + (x1 - X0 - tw) / 2.0
        ops.append(f"BT /F1 8 Tf {tx:.1f} {top + 10:.1f} Td {_pdf_str(t.title)} Tj ET")
    for i, row in enumerate(grid):
        for j, cell in enumerate(row):
            for k, line in enumerate(cell.split("\n")):
                if line:
                    x = X0 + j * COL_W + 2.0
                    y = edges[i] - 8.0 - k * 8.0
                    ops.append(f"BT /F1 {FONT:g} Tf {x:.1f} {y:.1f} Td {_pdf_str(line)} Tj ET")
    return ops, bottom


def write_pdf(pages: list[list[_Table]], title: str | None, mod_date: str) -> bytes:
    """Minimal PDF 1.4 (classic xref, uncompressed content streams, one
    standard Type1 font) holding the given ruled tables, one list per page."""
    objs: list[bytes] = []
    n_pages = len(pages)
    page_ids = [4 + 2 * i for i in range(n_pages)]
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    kids = " ".join(f"{p} 0 R" for p in page_ids)
    objs.append(f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode())
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    for pno, tables in enumerate(pages, start=1):
        ops = [f"BT /F1 7 Tf 36 590 Td {_pdf_str(f'Radiation Compendium page {pno}')} Tj ET"]
        top = 560.0
        for t in tables:
            t_ops, bottom = _table_ops(t, top)
            ops += t_ops
            top = bottom - 40.0
        stream = "\n".join(ops).encode()
        objs.append(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {PAGE_W:g} {PAGE_H:g}] "
            f"/Resources << /Font << /F1 3 0 R >> >> /Contents {page_ids[pno - 1] + 1} 0 R >>".encode()
        )
        objs.append(b"<< /Length %d >>\nstream\n" % len(stream) + stream + b"\nendstream")
    info_id = len(objs) + 1
    info = f"<< /Producer {_pdf_str('perfbench')} /ModDate {_pdf_str(mod_date)}"
    if title is not None:
        info += f" /Title {_pdf_str(title)}"
    objs.append((info + " >>").encode())

    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R /Info %d 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, info_id, xref_at)
    )
    return bytes(out)


@dataclass
class PdfDoc:
    filename: str
    content: bytes
    doc_title: str | None  # None: no metadata Title, the file is skipped
    rows: set  # expected landed (doc_filename, *10 canonical values)
    pages: int


def _gen_doc(seed: int, doc_no: int) -> PdfDoc:
    r = rng_for(seed, "pdf", doc_no)
    filename = f"compendium-{seed}-{doc_no:05d}.pdf"
    year = 2000 + doc_no % 20
    titled = r.random() >= 0.1
    title = f"NASA Compendium {year} v{doc_no}" if titled else None
    mod_date = f"D:{year}0{1 + doc_no % 9}15120000"
    n_table = 0
    pages: list[list[_Table]] = []
    expected: set = set()

    def next_title(tpl: str) -> str:
        nonlocal n_table
        n_table += 1
        return tpl.format(n=n_table)

    pages.append([_Table(next_title(ABBREV_TITLE), ["Term", "Meaning"],
                         [[a, b] for a, b in r.sample(_ABBREVS, 3)])])
    for _ in range(3):
        order = CANONICAL[:]
        r.shuffle(order)
        header = [r.choice(HEADER_VARIANTS[c]) for c in order]
        n_rows = r.randint(6, 9)
        cont_rows = r.randint(3, 5) if r.random() < 0.35 else 0
        rows = []
        for _ in range(n_rows + cont_rows):
            rec = _rad_row(r)
            if r.random() < 0.12:  # sparse row: strict validity drops it
                for c in r.sample(CANONICAL, r.randint(1, 2)):
                    rec[c] = ""
            elif titled:
                expected.add((filename,) + tuple(rec[c] for c in CANONICAL))
            rows.append([rec[c] for c in order])
        table = _Table(next_title(r.choice(RAD_TITLES)), header, rows[:n_rows])
        if len(pages[-1]) >= 2:
            pages.append([])
        pages[-1].append(table)
        if cont_rows:  # continuation fragment on the next page, header repeated
            pages.append([_Table("", header, rows[n_rows:])])
    if r.random() < 0.5:
        pi = _Table(next_title(PI_TITLE), ["Name", "Affiliation"],
                    [[a, b] for a, b in r.sample(_PIS, 2)])
        if len(pages[-1]) >= 2:
            pages.append([])
        pages[-1].append(pi)
    content = write_pdf(pages, title, mod_date)
    return PdfDoc(filename, content, None if title is None else title + mod_date,
                  expected, len(pages))


@dataclass
class PdfBatch:
    docs: list[PdfDoc]

    @property
    def expected(self) -> set:
        return set().union(*(d.rows for d in self.docs))


def pdf_batch(seed: int, batch: int, files: int = 4) -> PdfBatch:
    """Batch ``batch`` of the ingest stream: ``files`` new documents and,
    from batch 1 on, one re-delivered earlier document, whose rows are
    already landed and must not land twice."""
    r = rng_for(seed, "pdf-batch", batch)
    docs = [_gen_doc(seed, batch * files + i) for i in range(files)]
    if batch > 0:
        docs.append(_gen_doc(seed, r.randrange(batch * files)))
    return PdfBatch(docs)


def write_pdf_batch(b: PdfBatch, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for d in b.docs:
        with open(os.path.join(out_dir, d.filename), "wb") as f:
            f.write(d.content)


# same pattern as operators.measures: optional qualifier, operator, number
_QUAL_RX = re.compile(r"^\s*([A-Za-z]+)?\s*(<=|>=|[<>~=≈])?\s*(-?\d+(?:\.\d+)?)")


def measure_value(s: str) -> float | None:
    m = _QUAL_RX.match(s)
    return float(m.group(3)) if m else None


def search_expected(rows: set, max_dose: float, min_degradation: float) -> set:
    """Reference answer of the parametric search: parts tested at a dose
    rate <= max_dose whose degradation level is >= min_degradation."""
    di, gi = CANONICAL.index("dose_rate") + 1, CANONICAL.index("degradation_level") + 1
    out = set()
    for row in rows:
        d, g = measure_value(row[di]), measure_value(row[gi])
        if d is not None and g is not None and d <= max_dose and g >= min_degradation:
            out.add((row[0], row[1]))
    return out


# ----------------------------------------------------------------------
# olap_mix: TPC-H-shaped tables plus events, in the testdata's domain
# ----------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _ts(days_from: str, seconds: np.ndarray) -> pa.Array:
    base = np.datetime64(days_from, "us")
    return pa.array(base + seconds.astype("timedelta64[s]").astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def olap_tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """The eight tables the olap mix reads; scale 1.0 ~ TPC-H sf0.01."""
    g = np_rng_for(seed, "olap")
    n_cust, n_supp, n_part = int(1500 * scale), int(100 * scale), int(2000 * scale)
    n_ord, n_li, n_ev, n_users = int(15000 * scale), int(60000 * scale), int(10000 * scale), 150
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    money = lambda lo, hi, n: np.round(g.uniform(lo, hi, n), 2)  # noqa: E731
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[g.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    adj = np.array(["small", "red", "blue", "green", "large", "steel"])
    noun = np.array(["ring", "widget", "bolt", "gear", "valve", "panel"])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[g.integers(0, 6, n_part)], " "),
                              noun[g.integers(0, 6, n_part)]),
        "p_brand": np.char.add("Brand#", g.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(P_TYPES)[g.integers(0, 6, n_part)],
        "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    o_days = g.integers(0, 2400, n_ord) * 86400
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(g.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[g.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": _ts("1995-01-01", o_days),
        "o_orderpriority": np.array(PRIORITIES)[g.integers(0, 5, n_ord)],
    })
    li_order = g.integers(0, n_ord, n_li)
    qty = g.integers(1, 51, n_li).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(li_order, pa.int64()),
        "l_partkey": pa.array(g.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(g.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(g.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * g.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(g.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(g.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[g.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[g.integers(0, 2, n_li)],
        "l_shipdate": _ts("1995-01-02", o_days[li_order] + g.integers(1, 120, n_li) * 86400),
    })
    t["events"] = events_table(g, 0, n_ev, n_users, "2024-01-01", 30 * 86400)
    return t


def events_table(g: np.random.Generator, first_id: int, n: int, n_users: int,
                 start: str, span_s: int, t0_s: int = 0) -> pa.Table:
    """Events with cent-granular values, ascending event time."""
    secs = np.sort(g.uniform(t0_s, t0_s + span_s, n))
    base = np.datetime64(start, "us")
    ts = base + (secs * 1e6).astype("int64").astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(g.integers(0, n_users, n), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[g.integers(0, 5, n)],
        "value": np.round(g.integers(1, 49000, n) / 100.0, 2),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n)],
    })


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


# ----------------------------------------------------------------------
# llm_curation: corpus shard with planted duplicates + embeddings
# ----------------------------------------------------------------------


@dataclass
class CorpusShard:
    documents: pa.Table
    embeddings: pa.Table
    exact_groups: list = field(default_factory=list)  # [[doc ids with equal text]]
    near_pairs: list = field(default_factory=list)  # [(base id, near copy id)]
    query_ids: list = field(default_factory=list)

    @property
    def n_docs(self) -> int:
        return self.documents.num_rows


def corpus_shard(seed: int, shard: int, base_docs: int = 400, exact_rate: float = 0.1,
                 near_rate: float = 0.15, n_vecs: int = 1200, dim: int = 16,
                 n_queries: int = 32) -> CorpusShard:
    """Documents with planted exact duplicates (same text up to case and
    whitespace) and near duplicates (2 tokens replaced), on disjoint base
    documents; and embeddings drawn around 40 cluster centres. The
    duplicate rates are the shared-work knob of the workload."""
    from rad_database_parse_spark.llm.text import LANG_STOPWORDS

    r = rng_for(seed, "corpus", shard)
    g = np_rng_for(seed, "emb", shard)
    vocab = ["".join(r.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(r.randint(3, 9)))
             for _ in range(3000)]
    langs = ["en", "es", "fr", "de"]
    texts: list[str] = []
    lang_of: list[str] = []
    for _ in range(base_docs):
        lang = r.choice(langs)
        words = [r.choice(vocab) for _ in range(r.randint(40, 80))]
        for _ in range(8):
            words.insert(r.randrange(len(words)), r.choice(LANG_STOPWORDS[lang]))
        texts.append(" ".join(words))
        lang_of.append(lang)
    idx = list(range(base_docs))
    r.shuffle(idx)
    n_exact, n_near = int(base_docs * exact_rate), int(base_docs * near_rate)
    exact_src, near_src = idx[:n_exact], idx[n_exact:n_exact + n_near]
    plan: list[tuple[str, str, int]] = [(t, l, -1) for t, l in zip(texts, lang_of)]
    for s in exact_src:  # same text after lower() + whitespace collapse
        plan.append(("  " + texts[s].upper().replace(" ", "   ", 3), lang_of[s], s))
    for s in near_src:
        words = texts[s].split(" ")
        for p in r.sample(range(len(words)), 2):
            words[p] = r.choice(vocab)
        plan.append((" ".join(words), lang_of[s], s))
    ids = r.sample(range(shard * 10**6, (shard + 1) * 10**6), len(plan))
    exact_groups = [[ids[s], ids[base_docs + k]] for k, s in enumerate(exact_src)]
    near_pairs = [(ids[s], ids[base_docs + n_exact + k]) for k, s in enumerate(near_src)]
    documents = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": [p[0] for p in plan],
        "lang": [p[1] for p in plan],
        "source": [f"src{r.randrange(20)}" for _ in plan],
        "n_chars": pa.array([len(p[0]) for p in plan], pa.int64()),
    })
    centres = g.normal(size=(40, dim))
    member = g.integers(0, 40, n_vecs)
    vecs = (centres[member] + 0.35 * g.normal(size=(n_vecs, dim))).astype(np.float32)
    vec_ids = np.arange(shard * 10**6, shard * 10**6 + n_vecs)
    embeddings = pa.table({
        "vec_id": pa.array(vec_ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(member, pa.int32()),
    })
    query_ids = sorted(int(v) for v in g.choice(vec_ids, n_queries, replace=False))
    return CorpusShard(documents, embeddings, exact_groups, near_pairs, query_ids)


def write_corpus_shard(s: CorpusShard, out_dir: str) -> None:
    write_tables({"documents": s.documents, "embeddings": s.embeddings}, out_dir)


def exact_topk(embeddings: pa.Table, query_ids: list, k: int, round_digits: int = 6) -> dict:
    """Brute-force top-k by cosine, rounded and tie-broken on id the way
    the IVF search ranks: {query id: [neighbour ids]}."""
    ids = embeddings.column("vec_id").to_numpy()
    m = np.stack(embeddings.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    pos = {int(v): i for i, v in enumerate(ids)}
    out = {}
    for q in query_ids:
        sims = np.round(m @ m[pos[q]], round_digits)
        order = np.lexsort((ids, -sims))
        out[q] = [int(ids[i]) for i in order if ids[i] != q][:k]
    return out


# ----------------------------------------------------------------------
# event_stream: event files replayed one per trigger
# ----------------------------------------------------------------------


def event_file(seed: int, index: int, events: int = 400, n_users: int = 100,
               dup_rate: float = 0.05) -> pa.Table:
    """File ``index`` of the replay: 20 minutes of event time after file
    ``index - 1``'s, with a few re-sent events (same event_id, same ts)
    that streaming dedup must drop."""
    g = np_rng_for(seed, "events", index)
    t = events_table(g, index * events, events, n_users, "2024-03-01", 1200, t0_s=index * 1200)
    n_dup = int(events * dup_rate)
    if n_dup:
        t = pa.concat_tables([t, t.take(pa.array(np.sort(g.choice(events, n_dup, replace=False))))])
    return t
