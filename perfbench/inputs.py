"""Seeded benchmark inputs, cached per (corpus, seed) under the checkout.

Two corpora:

* images: ``synth.write_images_parquet`` (images + golden pairs), the same
  generator the pipeline tests and ``bench.py`` use.
* docs: a ``documents`` + ``embeddings`` pair shaped like the sf0.1
  fixture the text queries were tuned on (30-word vocabulary, 10-100
  words per document, 5% near-duplicates made by copying another
  document and appending " dup", iid unit vectors of dimension 64 with
  ten labels).  The fixture itself lives outside the checkout, so the
  benchmark regenerates the same shape from its seed.

Generation runs before any timed region; a cached corpus is reused.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _cached(root: str, name: str, build) -> str:
    """Return `root/name`, building it with `build(tmpdir)` when absent.
    A `_DONE` marker makes an interrupted build rebuild on the next run."""
    path = os.path.join(root, name)
    if not os.path.exists(os.path.join(path, "_DONE")):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        with open(os.path.join(tmp, "_DONE"), "w") as f:
            f.write("ok")
        os.replace(tmp, path)
    return path


def images_corpus(root: str, n_base: int, seed: int) -> dict[str, str]:
    from who_owns_mass_processing_spark.synth import write_images_parquet

    path = _cached(
        root, f"images-n{n_base}-s{seed}",
        lambda d: write_images_parquet(d, n_base=n_base, seed=seed),
    )
    return {
        "images": os.path.join(path, "images.parquet"),
        "golden_pairs": os.path.join(path, "golden_pairs.parquet"),
        "golden_assignments": os.path.join(path, "golden_assignments.parquet"),
    }


def _write_docs(out: str, n_docs: int, n_vecs: int, seed: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    lens = rng.integers(10, 101, size=n_docs)
    words = rng.integers(0, len(DOC_VOCAB), size=int(lens.sum()))
    offs = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(DOC_VOCAB[w] for w in words[offs[i]:offs[i + 1]]) for i in range(n_docs)]
    # 5% near-duplicates: a copy of another document plus one token
    copies = []
    for i in rng.choice(n_docs, size=n_docs // 20, replace=False):
        src = int(rng.integers(0, n_docs))
        texts[i] = texts[src] + " dup"
        copies.append((int(i), src))
    # golden pairs: copies whose source was not overwritten afterwards
    golden = sorted(
        (min(i, s), max(i, s)) for i, s in copies
        if i != s and texts[i] == texts[s] + " dup"
    )
    pq.write_table(
        pa.table({
            "a": pa.array([a for a, _ in golden], pa.int64()),
            "b": pa.array([b for _, b in golden], pa.int64()),
        }),
        os.path.join(out, "golden_pairs.parquet"),
    )
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n_docs, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, os.path.join(out, "documents.parquet"))

    vecs = rng.normal(size=(n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n_vecs), pa.int32()),
    })
    pq.write_table(emb, os.path.join(out, "embeddings.parquet"))


def docs_corpus(root: str, n_docs: int, n_vecs: int, seed: int) -> str:
    """Directory holding documents.parquet and embeddings.parquet, laid out
    like an sf fixture directory so ``__spark_entry__`` queries read it,
    plus golden_pairs.parquet: the injected near-duplicate (a < b) pairs."""
    return _cached(
        root, f"docs-n{n_docs}-v{n_vecs}-s{seed}",
        lambda d: _write_docs(d, n_docs, n_vecs, seed),
    )
