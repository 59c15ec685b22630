"""Seeded input generators for the benchmark workloads.

Pure numpy + stdlib: every input is a function of ``(seed, stream)``, so the
same seed gives byte-identical files and the program under test only ever
sees the generated files and the DataFrames read from them.
"""

from __future__ import annotations

import io
import os
import tarfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Independent random streams per input kind, so adding an input kind never
#: shifts the values of another.
STREAMS = {
    "centroids": 1,
    "base": 2,
    "queries": 3,
    "append": 4,
    "captions": 5,
    "jpg": 6,
    "build": 7,
    "semdedup": 8,
    "docs": 9,
}

RANK_VALUES = {
    "kingdom": ("Animalia", "Plantae", "Fungi"),
    "phylum": ("Arthropoda", "Chordata", "Mollusca", "Tracheophyta", "Ascomycota"),
    "class": ("Insecta", "Aves", "Mammalia", "Gastropoda", "Magnoliopsida", "Arachnida"),
    "order": ("Lepidoptera", "Coleoptera", "Passeriformes", "Rodentia", "Rosales", "Araneae"),
    "family": ("Geometridae", "Carabidae", "Corvidae", "Muridae", "Rosaceae", "Salticidae"),
}


def rng_for(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([int(seed), STREAMS[stream]])


def unit_rows(x: np.ndarray) -> np.ndarray:
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def random_centroids(rng: np.random.Generator, k: int, dim: int) -> np.ndarray:
    """``k`` random unit directions: nearly orthogonal at dim 512."""
    return unit_rows(rng.standard_normal((k, dim)))


def clustered_vectors(
    rng: np.random.Generator, centroids: np.ndarray, n: int, spread: float
) -> np.ndarray:
    """``n`` unit vectors, each a centroid plus isotropic noise of norm
    ``~spread``: cosine to its own centroid ``~1/sqrt(1 + spread^2)``."""
    k, dim = centroids.shape
    noise = rng.standard_normal((n, dim)) / np.sqrt(dim)
    return unit_rows(centroids[rng.integers(0, k, n)] + spread * noise)


def near_copies(rng: np.random.Generator, x: np.ndarray, noise: float) -> np.ndarray:
    """Unit vectors within cosine ``~1 - noise^2/2`` of the rows of ``x``."""
    return unit_rows(x + noise * rng.standard_normal(x.shape) / np.sqrt(x.shape[1]))


def list_array(rows: np.ndarray) -> pa.ListArray:
    """An ``(n, dim)`` float array as an Arrow ``list<double>`` column."""
    n, dim = rows.shape
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(np.ascontiguousarray(rows, dtype=np.float64).ravel()))


def write_vectors(path: str, ids, vectors: np.ndarray, *, label: bool = True) -> int:
    """One parquet file ``(vec_id, embedding[, label])``; returns its size."""
    cols = {
        "vec_id": pa.array(np.asarray(ids, dtype=np.int64)),
        "embedding": list_array(vectors),
    }
    if label:
        cols["label"] = pa.array(np.zeros(len(vectors), dtype=np.int32))
    pq.write_table(pa.table(cols), path)
    return os.path.getsize(path)


def write_centroids(path: str, centroids: np.ndarray, id_col: str, vec_col: str, id_dtype) -> None:
    pq.write_table(
        pa.table(
            {
                id_col: pa.array(np.arange(len(centroids), dtype=id_dtype)),
                vec_col: list_array(centroids),
            }
        ),
        path,
    )


def taxon_fields(rng: np.random.Generator, i: int) -> dict[str, str]:
    """The ranks of one synthetic caption. Genus, species and common name
    are unique per sample; the upper ranks repeat."""
    fields = {rank: str(rng.choice(values)) for rank, values in RANK_VALUES.items()}
    fields["genus"] = f"Genus{i}x{int(rng.integers(1000))}"
    fields["species"] = f"sp{int(rng.integers(10**6))}"
    fields["common_name"] = f"common {i} {int(rng.integers(1000))}"
    return fields


def caption(fields: dict[str, str]) -> str:
    """The TreeOfLife caption grammar the taxon parser reads."""
    ranks = " ".join(
        f"{r} {fields[r]}"
        for r in ("kingdom", "phylum", "class", "order", "family", "genus", "species")
    )
    return f"a photo of {ranks} with common name {fields['common_name']}."


def write_shards(
    shard_dir: str, seed: int, n_samples: int, per_shard: int, jpg_bytes: int
) -> dict[str, dict[str, str]]:
    """WebDataset tar shards: ``<key>.jpg`` (random payload) plus
    ``<key>.taxontag_com.txt`` (a caption) per sample. Returns the expected
    parsed fields per sample key."""
    rng_cap, rng_jpg = rng_for(seed, "captions"), rng_for(seed, "jpg")
    expected: dict[str, dict[str, str]] = {}
    for start in range(0, n_samples, per_shard):
        with tarfile.open(f"{shard_dir}/shard-{start:06d}.tar", "w") as tf:
            for i in range(start, min(start + per_shard, n_samples)):
                key = f"sample{i:06d}"
                fields = taxon_fields(rng_cap, i)
                expected[key] = fields
                for member, payload in (
                    (f"{key}.jpg", rng_jpg.bytes(jpg_bytes)),
                    (f"{key}.taxontag_com.txt", caption(fields).encode()),
                ):
                    info = tarfile.TarInfo(name=member)
                    info.size = len(payload)
                    tf.addfile(info, io.BytesIO(payload))
    return expected


def documents(
    rng: np.random.Generator, n_base: int, n_words: int, vocab: int, n_copies: int, edits: int
) -> list[tuple[int, str]]:
    """``n_base`` random word documents plus ``n_copies`` edited copies of
    randomly chosen base documents (``edits`` words replaced in each)."""
    words = np.array([f"w{i}" for i in range(vocab)])
    base = [words[rng.integers(0, vocab, n_words)] for _ in range(n_base)]
    docs = [(i, " ".join(toks)) for i, toks in enumerate(base)]
    for j in range(n_copies):
        toks = base[int(rng.integers(n_base))].copy()
        toks[rng.integers(0, n_words, edits)] = words[rng.integers(0, vocab, edits)]
        docs.append((n_base + j, " ".join(toks)))
    return docs


def write_documents(path: str, docs: list[tuple[int, str]]) -> None:
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d for d, _ in docs], type=pa.int64()),
                "text": pa.array([t for _, t in docs], type=pa.string()),
            }
        ),
        path,
    )
