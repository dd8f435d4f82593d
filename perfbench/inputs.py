"""Seeded benchmark inputs, cached on disk by (workload, seed, size).

Every table the engine receives is generated here from the run's seed:

* images come from the fixture pixel classes (``fixtures.images``) with a
  fixed size profile per workload — the seed picks the pixel content and
  which image gets which size, the profile fixes the total pixel area, so
  two seeds load the engine equally and their timings are comparable;
* polygons come from ``fixtures.geometries.generate_geometries`` (hot ones
  included);
* the document corpus and its ingest micro-batches come from the
  generator below, with planted exact and near duplicates and the labels
  the output checks compare against.

Generation is pure numpy/pandas (no Spark), so the cached tables are the
inputs alone: materializing them into the table layout a workload reads is
part of the timed set-up.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from quadtree_block_compression_spark.fixtures import images as fx_images
from quadtree_block_compression_spark.fixtures.geometries import generate_geometries
from quadtree_block_compression_spark.kernels.codecs import encode_image
from quadtree_block_compression_spark.kernels.geometry import WORLD
from quadtree_block_compression_spark.kernels.phash import phash64

# English function words the engine's quality/language scorers count; the
# rest of the vocabulary is synthetic so that unrelated documents share no
# word 3-shingles.
_STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "that", "for", "it"]


def _cached(cache_dir: str, key: str, build) -> dict[str, pd.DataFrame]:
    """Load the tables cached under ``key`` or build and store them."""
    d = os.path.join(cache_dir, key)
    done = os.path.join(d, "_COMPLETE")
    if os.path.exists(done):
        return {f[:-len(".parquet")]: pd.read_parquet(os.path.join(d, f))
                for f in sorted(os.listdir(d)) if f.endswith(".parquet")}
    tables = build()
    os.makedirs(d, exist_ok=True)
    for name, df in tables.items():
        df.to_parquet(os.path.join(d, name + ".parquet"), index=False)
    open(done, "w").close()
    return tables


# ---------------------------------------------------------------- images

def image_rows(seed: int, sizes: list[int], n: int) -> pd.DataFrame:
    """``n`` images-table rows. Image ``i`` has the fixture's content class
    ``i % 9`` and format ``i % 3``. Every class gets the same multiset of
    (w, h) pairs over ``sizes``, dealt to its images in a seeded order, so
    the seed moves content and placement but not the amount of work.
    ``n`` must be a multiple of 9 × len(sizes)²."""
    classes = fx_images._CLASSES
    pairs = [(w, h) for w in sizes for h in sizes]
    if n % (len(classes) * len(pairs)):
        raise ValueError(f"n={n} is not a multiple of {len(classes) * len(pairs)}")
    rng = np.random.default_rng(seed)
    per_class = n // len(classes)
    dealt = [rng.permutation(per_class) for _ in classes]
    rows = []
    for i in range(n):
        c = i % len(classes)
        w, h = pairs[dealt[c][i // len(classes)] % len(pairs)]
        fmt = ("png", "jpeg", "raw")[i % 3]
        img = fx_images._pixels(classes[c], w, h, np.random.default_rng([seed, i]))
        rows.append({"image_id": f"img_{i:08d}", "bytes": encode_image(img, fmt),
                     "w": w, "h": h, "fmt": fmt, "caption": f"{classes[c]}#{i}",
                     "phash": int(phash64(img))})
    df = pd.DataFrame(rows)
    return df.astype({"w": "int32", "h": "int32", "phash": "int64"})


def geometry_rows(seed: int, n: int) -> pd.DataFrame:
    return generate_geometries(n=n, seed=seed)


def tiles_inputs(cache_dir: str, workload: str, seed: int, size: dict):
    key = f"{workload}-s{seed}-n{size['images']}-p{'_'.join(map(str, size['sizes']))}"
    return _cached(cache_dir, key, lambda: {
        "images": image_rows(seed, size["sizes"], size["images"]),
        "geoms": geometry_rows(seed, size["polygons"])})


# ---------------------------------------------------------- lookup mix

def lookup_requests(seed: int, n: int, block: dict[str, int],
                    n_polygons: int, max_level: int) -> list[dict]:
    """A seeded request sequence: kNN (1-4 query points), PIP (1-4 of the
    polygons) and window scans. It is made of blocks holding ``block[kind]``
    requests of each kind in a seeded order, so every prefix of the
    sequence has nearly the same mix."""
    rng = np.random.default_rng([seed, 1])
    kinds = [k for k, c in block.items() for _ in range(c)]
    out = []
    while len(out) < n:
        for kind in map(str, rng.permutation(kinds)):
            if kind == "knn":
                m = int(rng.integers(1, 5))
                out.append({"kind": kind, "x": (rng.random(m) * WORLD).tolist(),
                            "y": (rng.random(m) * WORLD).tolist(),
                            "k": rng.choice([1, 5, 16], m).astype(int).tolist()})
            elif kind == "pip":
                m = int(rng.integers(1, 5))
                out.append({"kind": kind, "polygons": sorted(
                    rng.choice(n_polygons, m, replace=False).astype(int).tolist())})
            else:
                x0, y0 = rng.random(2) * 96
                side = 16 + rng.random() * 96
                out.append({"kind": kind,
                            "level": int(rng.integers(1, max_level + 1)),
                            "window": [float(x0), float(y0),
                                       float(x0 + side), float(y0 + side)]})
    return out[:n]


# -------------------------------------------------------------- corpus

def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("bcdfghjklmnprstvz"))
    vowels = np.array(list("aeiou"))
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 4))
        words.add("".join(letters[rng.integers(0, len(letters))]
                          + vowels[rng.integers(0, len(vowels))]
                          for _ in range(k)))
    return np.array(sorted(words))


def _doc(rng: np.random.Generator, vocab: np.ndarray) -> str:
    """One quality-passing English-like document: 40-70 words, about one in
    five a stopword, a sentence break every ~12 words."""
    n = int(rng.integers(40, 71))
    words = []
    for j in range(n):
        if rng.random() < 0.2:
            words.append(_STOPWORDS[int(rng.integers(0, len(_STOPWORDS)))])
        else:
            words.append(str(vocab[int(rng.integers(0, len(vocab)))]))
        if j % 12 == 11:
            words[-1] += "."
    words[0] = words[0].capitalize()
    return " ".join(words)


def _near(rng: np.random.Generator, text: str, vocab: np.ndarray) -> str:
    """A near duplicate: the text plus one trailing word (word 3-shingle
    Jaccard ≥ 0.96 to the original)."""
    return text + " " + str(vocab[int(rng.integers(0, len(vocab)))])


def corpus_rows(seed: int, n_docs: int, exact_share: float, near_share: float,
                junk_share: float, batches: int, batch_docs: int):
    """(docs, batches) with labels.

    ``docs``: ``(doc_id, text, label, source)`` — label ``orig``, ``exact``
    (an identical copy of an earlier ``orig``), ``near`` (an ``orig`` plus
    one word) or ``junk`` (too short to pass the quality filter).
    ``batches``: ``(batch, doc_id, text, label, source)`` for ingest against
    the cleaned corpus — ``unique`` (fresh text), ``exact`` (a copy of a
    corpus original) or ``near`` (an original plus one word).
    """
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng, 6000)
    n_exact = int(n_docs * exact_share)
    n_near = int(n_docs * near_share)
    n_junk = int(n_docs * junk_share)
    n_orig = n_docs - n_exact - n_near - n_junk
    texts = [_doc(rng, vocab) for _ in range(n_orig)]
    rows = [(i, t, "orig", i) for i, t in enumerate(texts)]
    for _ in range(n_exact):
        s = int(rng.integers(0, n_orig))
        rows.append((len(rows), texts[s], "exact", s))
    for _ in range(n_near):
        s = int(rng.integers(0, n_orig))
        rows.append((len(rows), _near(rng, texts[s], vocab), "near", s))
    for _ in range(n_junk):
        rows.append((len(rows), " ".join(str(w) for w in
                                         vocab[rng.integers(0, len(vocab), 3)]),
                     "junk", -1))
    # duplicates and junk are spread through the id space, but each copy
    # keeps a larger doc_id than its original (the one exact dedup keeps)
    docs = pd.DataFrame(rows, columns=["doc_id", "text", "label", "source"])
    perm = np.concatenate([[0], 1 + rng.permutation(len(docs) - 1)])
    docs = docs.iloc[perm].reset_index(drop=True)
    docs["doc_id"] = docs["doc_id"].astype("int64")
    docs["source"] = docs["source"].astype("int64")
    # sources of ingest duplicates: originals that none of the planted
    # copies points at, so each stays the sole owner of its text
    copied = set(docs.loc[docs.label.isin(["exact", "near"]), "source"])
    pool = np.array(sorted(set(range(n_orig)) - copied))
    brow = []
    next_id = 10 ** 9
    for b in range(batches):
        picks = rng.choice(pool, batch_docs // 2, replace=False)
        for j in range(batch_docs):
            if j < batch_docs // 2:
                brow.append((b, next_id, _doc(rng, vocab), "unique", -1))
            else:
                s = int(picks[j - batch_docs // 2])
                if j % 2:
                    brow.append((b, next_id, texts[s], "exact", s))
                else:
                    brow.append((b, next_id, _near(rng, texts[s], vocab), "near", s))
            next_id += 1
    batch_df = pd.DataFrame(brow, columns=["batch", "doc_id", "text", "label", "source"])
    batch_df = batch_df.astype({"doc_id": "int64", "source": "int64"})
    return docs, batch_df


def corpus_inputs(cache_dir: str, seed: int, size: dict):
    key = (f"corpus_dedup-s{seed}-n{size['docs']}-b{size['batches']}"
           f"x{size['batch_docs']}")

    def build():
        docs, batches = corpus_rows(seed, size["docs"], size["exact_share"],
                                    size["near_share"], size["junk_share"],
                                    size["batches"], size["batch_docs"])
        return {"docs": docs, "batches": batches}
    return _cached(cache_dir, key, build)
