"""Tests of the benchmark's seeded generators (no Spark needed).

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import os
import random
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
from rad_database_parse_spark.operators.header_map import resolve_header_mapping  # noqa: E402
from rad_database_parse_spark.sources.pdf_lattice import extract_tables  # noqa: E402


def _pdf_bytes(seed: int, batch: int) -> list[bytes]:
    return [d.content for d in gen.pdf_batch(seed, batch).docs]


def _parquet_bytes(tables: dict, path) -> dict[str, bytes]:
    gen.write_tables(tables, str(path))
    return {n: open(os.path.join(path, f"{n}.parquet"), "rb").read() for n in tables}


def test_pdf_batches_repeat_per_seed_and_differ_across_seeds():
    assert _pdf_bytes(3, 2) == _pdf_bytes(3, 2)
    assert _pdf_bytes(3, 2) != _pdf_bytes(4, 2)
    assert _pdf_bytes(3, 2) != _pdf_bytes(3, 1)


def test_olap_tables_repeat_per_seed_and_differ_across_seeds(tmp_path):
    a = _parquet_bytes(gen.olap_tables(5, scale=0.05), tmp_path / "a")
    b = _parquet_bytes(gen.olap_tables(5, scale=0.05), tmp_path / "b")
    c = _parquet_bytes(gen.olap_tables(6, scale=0.05), tmp_path / "c")
    assert a == b
    assert a["lineitem"] != c["lineitem"] and a["events"] != c["events"]


def test_event_files_repeat_per_seed_and_differ_across_seeds():
    assert gen.event_file(1, 3).equals(gen.event_file(1, 3))
    assert not gen.event_file(1, 3).equals(gen.event_file(2, 3))


def test_corpus_shards_repeat_per_seed_and_differ_across_seeds():
    a, b, c = gen.corpus_shard(1, 0), gen.corpus_shard(1, 0), gen.corpus_shard(2, 0)
    assert a.documents.equals(b.documents) and a.embeddings.equals(b.embeddings)
    assert not a.documents.equals(c.documents)


def test_every_header_variant_maps_to_its_column():
    r = random.Random(0)
    for _ in range(200):
        order = gen.CANONICAL[:]
        r.shuffle(order)
        header = [r.choice(gen.HEADER_VARIANTS[c]) for c in order]
        # the parser returns multi-line cells joined with '\n'
        assert resolve_header_mapping(header) == {c: order.index(c) for c in gen.CANONICAL}


def test_extracted_grids_hold_every_expected_row():
    """The lattice parser reads back what the writer drew: each expected
    landed row is one data row of a parsed table, and a document without
    a metadata Title is skipped."""
    batch = gen.pdf_batch(9, 1)
    assert any(d.doc_title is None for b in range(20) for d in gen.pdf_batch(9, b).docs)
    for doc in batch.docs:
        title, tables = extract_tables(doc.content)
        assert title == doc.doc_title
        if title is None:
            assert tables == [] and doc.rows == set()
            continue
        parsed = set()
        header = None
        for _page, _bbox, grid, heading in tables:
            if len(grid[0]) != len(gen.CANONICAL):
                continue
            if heading:
                mapping = resolve_header_mapping(grid[0])
            for row in grid[1:]:
                parsed.add((doc.filename,) + tuple(row[mapping[c]] for c in gen.CANONICAL))
            header = grid[0]
        assert header is not None
        assert doc.rows <= parsed


def test_batches_redeliver_one_earlier_document():
    names0 = {d.filename for b in range(3) for d in gen.pdf_batch(2, b).docs[:4]}
    redelivered = gen.pdf_batch(2, 3).docs[-1]
    assert redelivered.filename in names0
    assert len(gen.pdf_batch(2, 0).docs) == 4


@pytest.mark.parametrize(
    "text,value", [("HDR~65 LDR~30", 65.0), ("<1", 1.0), (">50", 50.0), ("N/A", None), ("0.01", 0.01)]
)
def test_measure_value_matches_the_search_pattern(text, value):
    assert gen.measure_value(text) == value


def test_event_files_carry_resent_events_and_cent_values(tmp_path):
    t = gen.event_file(4, 2)
    ids = t.column("event_id").to_pylist()
    assert len(ids) > len(set(ids))
    cents = [round(v * 100) for v in t.column("value").to_pylist()]
    assert all(abs(v * 100 - c) < 1e-6 for v, c in zip(t.column("value").to_pylist(), cents))
    pq.write_table(t, tmp_path / "e.parquet")
    assert pq.read_table(tmp_path / "e.parquet").equals(t)


def test_corpus_plants_the_configured_duplicate_rates():
    s = gen.corpus_shard(3, 1, base_docs=200)
    assert len(s.exact_groups) == 20 and len(s.near_pairs) == 30
    assert s.n_docs == 250
    texts = dict(zip(s.documents.column("doc_id").to_pylist(), s.documents.column("text").to_pylist()))
    for a, b in s.exact_groups:
        assert " ".join(texts[a].lower().split()) == " ".join(texts[b].lower().split())
    for a, b in s.near_pairs:
        wa, wb = texts[a].split(" "), texts[b].split(" ")
        assert len(wa) == len(wb) and 0 < sum(x != y for x, y in zip(wa, wb)) <= 2
