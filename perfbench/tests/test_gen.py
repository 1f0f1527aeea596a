"""Each generator gives the same rows for the same seed and other rows for
another seed; generated facts hold."""

from __future__ import annotations

import pyarrow.parquet as pq

from perfbench import gen, truth


def test_events_seeded():
    a, b, c = gen.events(1, 2_000, 100), gen.events(1, 2_000, 100), gen.events(2, 2_000, 100)
    assert a.equals(b)
    assert not a.equals(c)
    assert set(a.column("event_type").to_pylist()) == set(gen.EVENT_TYPES)


def test_rollup_queries_seeded():
    assert gen.rollup_queries(1, 16, 4) == gen.rollup_queries(1, 16, 4)
    windows_1, queries_1 = gen.rollup_queries(1, 16, 4)
    windows_2, queries_2 = gen.rollup_queries(2, 16, 4)
    assert windows_1 != windows_2
    # the stream's shape does not depend on the seed, only where windows start
    assert [(q.kind, q.window, q.by_type) for q in queries_1] == [(q.kind, q.window, q.by_type) for q in queries_2]
    assert all(0 <= first <= last < gen.DAYS for first, last in windows_1 + windows_2)


def test_documents_seeded_and_planted_jaccard_exact():
    a, planted_a = gen.documents(1, 60, 12, 6)
    b, planted_b = gen.documents(1, 60, 12, 6)
    c, _ = gen.documents(2, 60, 12, 6)
    assert a.equals(b) and planted_a == planted_b
    assert not a.equals(c)
    ids, texts = a.column("doc_id").to_pylist(), a.column("text").to_pylist()
    sets = truth.word_sets(ids, texts)
    for p in planted_a:
        inter, union = truth.jaccard_parts(sets[p.base_id], sets[p.variant_id])
        assert inter / union == p.jaccard
    # copies come last, so exact dedup keeps every base and variant
    assert truth.exact_kept_ids(ids, texts) == set(range(60 + 12))


def test_embeddings_seeded():
    c1, q1 = gen.embeddings(1, 200, 20)
    c2, q2 = gen.embeddings(1, 200, 20)
    c3, q3 = gen.embeddings(2, 200, 20)
    assert c1.equals(c2) and q1.equals(q2)
    assert not c1.equals(c3) and not q1.equals(q3)
    assert gen.vectors(c1).shape == (200, gen.DIM)
    assert min(q1.column("vec_id").to_pylist()) >= gen.QUERY_ID_BASE


def test_layouts(tmp_path):
    table = gen.events(3, 1_000, 50)
    gen.write_multi_file(table, str(tmp_path / "multi"), 4)
    files = sorted((tmp_path / "multi").iterdir())
    assert len(files) == 4
    assert sum(pq.ParquetFile(f).metadata.num_rows for f in files) == 1_000
    gen.write_single_row_group(table, str(tmp_path / "single"))
    (only,) = (tmp_path / "single").iterdir()
    assert pq.ParquetFile(only).metadata.num_row_groups == 1


def test_rank_error():
    values = list(range(100))
    assert truth.rank_error(values, 49, 0.5) == 0.0
    assert abs(truth.rank_error(values, 59, 0.5) - 0.09) < 1e-12
    assert abs(truth.rank_error(values, 39, 0.5) - 0.1) < 1e-12
