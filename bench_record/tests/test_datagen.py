"""The generator: same (scale, seed) -> byte-identical files; another seed
-> different files; planted near-duplicates present."""

from __future__ import annotations

import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq

import datagen


def _digests(path: str) -> dict[str, str]:
    return {
        name: hashlib.sha256(open(os.path.join(path, f"{name}.parquet"), "rb").read()).hexdigest()
        for name in datagen.TABLES
    }


def test_same_seed_gives_identical_files(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    assert datagen.generate(a, 0.001, seed=3) == datagen.generate(b, 0.001, seed=3)
    assert _digests(a) == _digests(b)


def test_other_seed_gives_different_files(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    datagen.generate(a, 0.001, seed=3)
    datagen.generate(b, 0.001, seed=4)
    da, db = _digests(a), _digests(b)
    # region and nation are fixed dimension tables; every generated one differs
    assert {t for t in datagen.TABLES if da[t] != db[t]} == set(datagen.TABLES) - {"region", "nation"}


def test_schemas_and_planted_duplicates(tmp_path):
    out = str(tmp_path)
    rows = datagen.generate(out, 0.01, seed=1)
    assert rows["customer"] == 1500 and rows["documents"] == 500 and rows["embeddings"] == 500
    docs = pq.read_table(os.path.join(out, "documents.parquet")).to_pydict()
    assert sum(t.endswith(" dup") for t in docs["text"]) >= 10
    assert docs["n_chars"] == [len(t) for t in docs["text"]]
    emb = pq.read_table(os.path.join(out, "embeddings.parquet"))
    emb_type = emb.schema.field("embedding").type
    assert pa.types.is_list(emb_type) and emb_type.value_type == pa.float32()
    assert {len(v) for v in emb.column("embedding").to_pylist()} == {64}
    li = pq.read_table(os.path.join(out, "lineitem.parquet"))
    assert str(li.schema.field("l_shipdate").type) == "timestamp[us]"
