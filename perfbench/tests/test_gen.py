"""Input generators: the same seed gives the same inputs and op counts."""

from __future__ import annotations

import pyarrow.parquet as pq

from perfbench import gen


def test_corpus_is_deterministic_per_seed():
    a = gen.corpus_tables(5, 0.001)
    b = gen.corpus_tables(5, 0.001)
    c = gen.corpus_tables(6, 0.001)
    assert a.keys() == b.keys() == {"customer", "documents", "embeddings"}
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["customer"].equals(c["customer"])
    assert not a["documents"].equals(c["documents"])


def test_corpus_files_are_byte_identical(tmp_path):
    counts = gen.write_corpus(str(tmp_path / "a"), 9, 0.001)
    gen.write_corpus(str(tmp_path / "b"), 9, 0.001)
    for t, n in counts.items():
        fa = (tmp_path / "a" / f"{t}.parquet").read_bytes()
        fb = (tmp_path / "b" / f"{t}.parquet").read_bytes()
        assert fa == fb
        assert pq.read_metadata(tmp_path / "a" / f"{t}.parquet").num_rows == n


def test_corpus_shapes():
    t = gen.corpus_tables(1, 0.001)
    docs, emb = t["documents"], t["embeddings"]
    assert docs["n_chars"].to_pylist() == [len(s) for s in docs["text"].to_pylist()]
    assert {len(v) for v in emb["embedding"].to_pylist()} == {gen.EMBED_DIM}


def _run(seed: int, cycles: int) -> tuple[list, list]:
    g = gen.ScheduleGenerator(seed, n_talks=300, n_speakers=20)
    docs, counts = [g.doc()], []
    for _ in range(cycles):
        doc, c = g.next_doc()
        docs.append(doc)
        counts.append(c)
    return docs, counts


def test_schedule_generator_is_deterministic():
    assert _run(3, 4) == _run(3, 4)
    assert _run(3, 4)[0] != _run(4, 4)[0]


def test_schedule_counts_match_the_state_change():
    g = gen.ScheduleGenerator(11, n_talks=500, n_speakers=20)
    before = g.expected()
    for _ in range(3):
        _, counts = g.next_doc()
        after = g.expected()
        assert counts == {
            "create": len(after.keys() - before.keys()),
            "delete": len(before.keys() - after.keys()),
            "update": sum(1 for k in after.keys() & before.keys() if after[k] != before[k]),
        }
        assert len(after) == 500
        before = after
