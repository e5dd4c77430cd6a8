import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from benchlib import fixtures


def test_write_docs_has_the_measured_corpus_shape(tmp_path):
    meta = fixtures.write_docs(tmp_path, 2000, seed=3)
    t = pq.read_table(tmp_path / "part-00000.parquet").to_pydict()
    assert meta == {"rows": 2000, "families": 100}
    assert sorted(t["doc_id"]) == list(range(2000))
    words = [w.split() for w in t["text"]]
    assert min(map(len, words)) == fixtures.MIN_WORDS
    assert max(map(len, words)) <= fixtures.MAX_WORDS + 1
    assert {w for ws in words for w in ws} <= set(fixtures.VOCAB) | {fixtures.DUP_TOKEN}
    members: dict[int, list[str]] = {}
    for text, fam in zip(t["text"], t["family"]):
        if fam >= 0:
            members.setdefault(fam, []).append(text)
    assert len(members) == 100
    for texts in members.values():
        root, copy = sorted(texts, key=len)
        assert copy == f"{root} {fixtures.DUP_TOKEN}"
    again = tmp_path / "again"
    fixtures.write_docs(again, 2000, seed=3)
    assert pq.read_table(again / "part-00000.parquet").equals(pq.read_table(tmp_path / "part-00000.parquet"))


def fake_pool(root, monkeypatch):
    """Four clip files of three clips each, transcripts for all of them
    plus one orphan per file."""
    monkeypatch.setattr(fixtures, "POOL_FILES", 4)
    monkeypatch.setattr(fixtures, "POOL_FILE_ROWS", 3)
    monkeypatch.setattr(fixtures, "PICK_FILES", 2)
    (root / "clips").mkdir(parents=True)
    (root / "transcripts").mkdir()
    tr_ids = []
    for k in range(4):
        ids = [f"clip_{i:012d}" for i in range(3 * k, 3 * k + 3)]
        pq.write_table(pa.table({"clip_id": ids}), root / "clips" / f"part-{k:05d}.parquet")
        tr_ids += ids + [f"orphan_{3 * k + 1:012d}"]
    pq.write_table(pa.table({"clip_id": tr_ids}), root / "transcripts" / "part-00000.parquet")
    return fixtures.Fixture(root, {"key": "pool-test"})


def test_pick_builder_links_seeded_files_and_their_transcripts(tmp_path, monkeypatch):
    pool = fake_pool(tmp_path / "pool", monkeypatch)
    out = tmp_path / "pick"
    out.mkdir()
    meta = fixtures.pick_builder(pool, seed=5)(out)
    picked = meta["pool_files"]
    assert meta["rows"] == 6 and len(picked) == 2 and picked == sorted(picked)
    linked = sorted(os.listdir(out / "clips"))
    assert linked == [f"part-{k:05d}.parquet" for k in picked]
    assert os.stat(out / "clips" / linked[0]).st_nlink == 2
    tr = pq.read_table(out / "transcripts").column("clip_id").to_pylist()
    want = [i for k in picked for i in
            [f"clip_{j:012d}" for j in range(3 * k, 3 * k + 3)] + [f"orphan_{3 * k + 1:012d}"]]
    assert tr == want
    again = tmp_path / "again"
    again.mkdir()
    assert fixtures.pick_builder(pool, seed=5)(again)["pool_files"] == picked


def test_pick_files_skips_noisy_picks():
    first_draw = sorted(int(k) for k in np.random.default_rng(303).choice(
        fixtures.POOL_FILES, fixtures.PICK_FILES, replace=False))
    assert tuple(first_draw) in fixtures.NOISY_PICKS
    picked = fixtures.pick_files(303)
    assert tuple(picked) not in fixtures.NOISY_PICKS
    assert len(set(picked)) == fixtures.PICK_FILES and picked == sorted(picked)
    assert fixtures.pick_files(303) == picked
    # seeds whose first draw is fine keep it
    assert fixtures.pick_files(5) == sorted(int(k) for k in np.random.default_rng(5).choice(
        fixtures.POOL_FILES, fixtures.PICK_FILES, replace=False))


def test_clip_index_reads_clip_and_orphan_ids():
    ids = pa.array(["clip_000000000042", "orphan_000000001000"])
    assert fixtures._clip_index(ids).tolist() == [42, 1000]
    assert fixtures._clip_index(ids).dtype == np.int64
