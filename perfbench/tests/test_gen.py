"""The generators are deterministic by seed."""

import os

import pyarrow as pa

from perfbench import gen


def _tables(seed):
    return gen.make_tables(seed, sf=0.0005, n_docs=50, n_vecs=20)


def test_tables_repeat_for_a_seed_and_differ_across_seeds():
    a, b, c = _tables(3), _tables(3), _tables(4)
    assert set(a) == {
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    }
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["lineitem"].equals(c["lineitem"])
    assert not a["documents"].equals(c["documents"])


def test_documents_carry_exact_copy_near_duplicates():
    import numpy as np

    docs = gen.make_documents(np.random.default_rng(0), 400).to_pydict()
    texts = set(docs["text"])
    dups = [t for t in docs["text"] if t.endswith(" dup")]
    assert dups and all(t[: -len(" dup")] in texts for t in dups)


def test_updates_repeat_for_a_seed_and_cover_the_edge_rows():
    a = gen.UpdateGenerator(7).rows(500)
    assert a == gen.UpdateGenerator(7).rows(500)
    assert a != gen.UpdateGenerator(8).rows(500)
    assert [r["update_id"] for r in a] == list(range(1, 501))
    msgs = [r["message"] or r["edited_message"] for r in a]
    assert any(r["message"] is None for r in a)  # edited_message rows
    assert any((m["text"] or "").startswith("/") for m in msgs)  # commands
    assert any(not (m["text"] or "").strip() for m in msgs)  # empty text
    assert any(m["from"]["id"] not in gen.ALLOWED_IDS for m in msgs)  # unauthorized
    top = max(sum(m["chat"]["id"] == c for m in msgs) for c in range(1, 4))
    assert top > 500 / gen.N_CHATS * 5  # skewed chat_id


def test_update_ids_start_where_asked():
    rows = gen.UpdateGenerator(1, first_id=1000).rows(3)
    assert [r["update_id"] for r in rows] == [1000, 1001, 1002]


def test_epochs_repeat_for_a_seed_with_strictly_increasing_mtimes(tmp_path):
    import numpy as np

    docs = gen.make_documents(np.random.default_rng(1), 120)
    a = gen.write_epochs(docs, 5, seed=9, out_dir=str(tmp_path / "a"))
    b = gen.write_epochs(docs, 5, seed=9, out_dir=str(tmp_path / "b"))
    assert all(x.equals(y) for x, y in zip(a, b, strict=True))
    assert pa.concat_tables(a).num_rows == 120
    files = sorted(os.listdir(tmp_path / "a"))
    mtimes = [os.stat(tmp_path / "a" / f).st_mtime for f in files]
    assert all(x < y for x, y in zip(mtimes, mtimes[1:]))
