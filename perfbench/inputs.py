"""Seeded, sf-shaped benchmark inputs and the oracle values checked against.

Everything a workload reads is written here as parquet under the run's work
directory; the library sees only those files. The generated tables follow
the shape of the sf0.1 test data (same columns and types, the same 30-word
vocabulary, 10-100 tokens per document, 5% near-duplicate documents that
copy another document and append " dup", unit-norm 64-d embeddings with ten
labels), so the numbers stay comparable with measurements taken there.

A seed fixes every input: the base corpus, the replica doc-id offsets of
``kg_build``, the hot documents of ``kg_skew`` and the embedding set of
``near_dup``. Gold and oracle values are computed from the same files by
DuckDB, never by the Spark pipeline under test.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Dict

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
DUP_SHARE = 0.05
EMB_DIM = 64

# corpus.render_page varies with doc_id % 50 (hot docs), % 2 (tables),
# % 3, % 5 and % 30; offsets that are multiples of 100 keep the hot/normal
# mix of corpus.n_tables exact while every replica renders distinct pages.
OFFSET_STRIDE = 100
# Hot documents of kg_skew repeat their tables block (like bench.skew_render).
# Docs with doc_id % 50 == 0 carry 7-8 tables, 27-34 body rows and ~95
# mentions per block. The repeat factor is a target row count over the
# doc's rows per block, so every seed's hot docs carry the same load (the
# overflow join is quadratic in it): ~700 rows (~2.4k mentions, bench's 25
# repeats) stay under the pipeline's default cap of 10,000 mentions per
# document and take the fused product; ~3,200 rows (~11k mentions) exceed
# it and are routed through the relational join. The seed picks the docs.
SKEW_UNDER_CAP_ROWS = 700
SKEW_OVER_CAP_ROWS = 3200


def documents(seed: int, n_docs: int) -> pd.DataFrame:
    """The base corpus: ``documents.parquet`` of the sf test data."""
    rng = np.random.default_rng([seed, 1])
    ntok = rng.integers(10, 101, size=n_docs)
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), size=k)]) for k in ntok]
    n_dup = int(round(n_docs * DUP_SHARE))
    dups = rng.choice(n_docs, size=n_dup, replace=False)
    originals = np.setdiff1d(np.arange(n_docs), dups)
    for d in dups:
        texts[d] = texts[int(rng.choice(originals))] + " dup"
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, size=n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(seed: int, n_vecs: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 2])
    v = rng.standard_normal((n_vecs, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": list(v),
        "label": rng.integers(0, 10, size=n_vecs).astype(np.int32),
    })


def replicate(docs: pd.DataFrame, seed: int, replicas: int) -> pd.DataFrame:
    """``replicas`` copies of ``docs`` at distinct seeded doc-id offsets."""
    rng = np.random.default_rng([seed, 3])
    n = int(docs["doc_id"].max()) + 1
    stride = -(-n // OFFSET_STRIDE) * OFFSET_STRIDE
    slots = rng.choice(1000, size=replicas, replace=False)
    parts = []
    for s in sorted(slots):
        rep = docs.copy()
        rep["doc_id"] = rep["doc_id"] + int(s) * stride
        parts.append(rep)
    return pd.concat(parts, ignore_index=True)


def hot_docs(seed: int, n_docs: int, under: int, over: int) -> Dict[int, int]:
    """doc_id -> tables-block repeat factor for the skew corpus: ``under``
    hot docs below the default mention cap, ``over`` above it."""
    from fonduer_spark.corpus import n_rows, n_tables

    rng = np.random.default_rng([seed, 4])
    chosen = rng.choice(np.arange(0, n_docs, 50), size=under + over,
                        replace=False)
    targets = [SKEW_UNDER_CAP_ROWS] * under + [SKEW_OVER_CAP_ROWS] * over
    out = {}
    for d, rows in zip((int(x) for x in chosen), targets):
        block = sum(n_rows(d, t) for t in range(n_tables(d)))
        out[d] = round(rows / block)
    return out


class SkewRender:
    """render(doc_id, text) -> html with the hot docs' tables block repeated.

    A picklable callable (shipped to the Python workers) over the seeded
    hot-doc choice, which ``hot_docs.parquet`` also holds for the oracle."""

    def __init__(self, repeats: Dict[int, int]) -> None:
        self.repeats = dict(repeats)

    def __call__(self, i, text):
        from fonduer_spark.corpus import render_page

        html = render_page(int(i), text)
        k = self.repeats.get(int(i))
        if k:
            a = html.index("<table")
            b = html.rindex("</table>") + len("</table>")
            html = html[:a] + html[a:b] * k + html[b:]
        return html


def write_parquet(df: pd.DataFrame, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


@dataclass
class Sizes:
    """Input sizes of one run; ``SMALL`` is the self-test size."""

    kg_base_docs: int = 1000    # kg_build: base docs per replica
    kg_replicas: int = 2
    skew_docs: int = 256
    skew_under: int = 1         # hot docs under the mention cap
    skew_over: int = 1          # hot docs over it
    # near_dup and kg_checkpointed also run, once, in the traced pass of
    # kg_build, so these sizes keep that pass short
    near_dup_docs: int = 200
    # the DuckDB oracles of the two embedding queries take ~40 ms a vector
    emb_vecs: int = 60
    ckpt_docs: int = 64


SMALL = Sizes(kg_base_docs=32, kg_replicas=2, skew_docs=128, skew_under=1,
              skew_over=1)


@dataclass
class WorkloadInput:
    """One workload's generated input directory and what the benchmark
    knows about it."""

    dir: str
    work: str
    n_docs: int
    seed: int
    sizes: Sizes
    skew_repeats: Dict[int, int] = field(default_factory=dict)

    @property
    def render(self):
        return SkewRender(self.skew_repeats) if self.skew_repeats else None


def generate(workload: str, d: str, work: str, seed: int,
             sizes: Sizes) -> WorkloadInput:
    """Write ``workload``'s sf-shaped inputs into the directory ``d``."""
    if workload == "kg_build":
        base = documents(seed, sizes.kg_base_docs)
        docs = replicate(base, seed, sizes.kg_replicas)
    elif workload == "kg_skew":
        docs = documents(seed, sizes.skew_docs)
    elif workload == "near_dup":
        docs = documents(seed, sizes.near_dup_docs)
        write_parquet(embeddings(seed, sizes.emb_vecs),
                      f"{d}/embeddings.parquet")
    elif workload == "kg_checkpointed":
        docs = documents(seed, sizes.ckpt_docs)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    write_parquet(docs, f"{d}/documents.parquet")
    inp = WorkloadInput(dir=d, work=work, n_docs=len(docs), seed=seed,
                        sizes=sizes)
    if workload == "kg_skew":
        inp.skew_repeats = hot_docs(seed, sizes.skew_docs, sizes.skew_under,
                                    sizes.skew_over)
    # every corpus gets the (possibly empty) hot-doc table its oracle reads
    write_parquet(pd.DataFrame({
        "doc_id": np.array(list(inp.skew_repeats), dtype=np.int64),
        "repeat": np.array(list(inp.skew_repeats.values()), dtype=np.int32),
    }), f"{d}/hot_docs.parquet")
    return inp
