"""Johnson–Lindenstrauss random projection for embedding compression.

At 100 TB the embedding column IS the storage/shuffle cost driver (a
768-dim float array dwarfs the text it encodes), and the standard first
move before ANN indexing or clustering sweeps is a cheap dimensionality
reduction. PCA (``operators/pca.py``) needs a trained basis; the JL
alternative needs NO training pass: a fixed ±1 sign matrix preserves
pairwise distances within (1±ε) for d_out = O(log n / ε²) (Achlioptas
2001's database-friendly projection — signs, not Gaussians).

Engine-portable determinism: the sign matrix derives from md5 hex-digit
parity — ``sign(i,j) = +1 iff md5("i:j")[0] ∈ {0,2,4,6,8,a,c,e}`` — so a
SQL twin regenerates it bit-for-bit (same trick as the sampling family's
md5 thresholds). No RNG state, no seed file to ship.

Physical shape: the (d_in × d_out) sign matrix is driver-built and
broadcast (768×64 ≈ 50 KB); projection is ONE Arrow ``mapInPandas`` pass
with a single BLAS matmul per batch — no shuffle, no per-row Python.
Output values are rounded half away from zero to ``round_dp`` decimals
(registry convention: matmul-vs-SQL-sum association noise is ~1e-15 on
unit-norm 64-dim inputs, nine orders below the quantum).

The reference's vector side never compresses (flat FAISS index,
``src/vector_db/faiss_db.py``); this is part of the beyond-reference
embedding-pipeline surface.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .knn import _valid_rows, round_half_away

_EVEN_HEX = set("02468ace")


def jl_signs(d_in: int, d_out: int) -> np.ndarray:
    """The deterministic (d_in, d_out) ±1 sign matrix:
    ``+1`` iff the first hex digit of ``md5(f"{i}:{j}")`` is even
    (0-based i, j) — reproducible in any engine with md5."""
    m = np.empty((d_in, d_out), dtype=np.float64)
    for i in range(d_in):
        for j in range(d_out):
            h = hashlib.md5(f"{i}:{j}".encode()).hexdigest()[0]
            m[i, j] = 1.0 if h in _EVEN_HEX else -1.0
    return m


def rp_project(df: DataFrame, vec_col: str, d_in: int, d_out: int,
               out_col: str = "proj", round_dp: int = 6) -> DataFrame:
    """Project ``vec_col`` (array<float|double> of length ``d_in``) to
    ``d_out`` dims: ``y = (x @ S) / sqrt(d_out)`` with the ``jl_signs``
    matrix. All original columns pass through; one Arrow pass. A row
    whose vector is NULL or not ``d_in`` long is dropped."""
    signs = jl_signs(d_in, d_out)
    inv = 1.0 / float(np.sqrt(d_out))
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast(signs)
    cols = df.columns
    fields = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                       for f in df.schema.fields)

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        s = bc.value
        for pdf in batches:
            pdf, mat = _valid_rows(pdf, vec_col, d_in)
            if len(pdf) == 0:
                continue
            proj = round_half_away((mat @ s) * inv, round_dp)
            out = pdf[cols].copy()
            out[out_col] = [p.tolist() for p in proj]
            yield out

    return df.mapInPandas(
        part, schema=f"{fields}, {out_col} array<double>")


def rp_project_long(df: DataFrame, id_col: str, vec_col: str,
                    d_in: int, d_out: int,
                    round_dp: int = 6) -> DataFrame:
    """``rp_project`` unnested to ``(id, dim, value)`` rows — the
    hash-checkable long form the registry query exposes."""
    proj = rp_project(df.select(id_col, vec_col), vec_col, d_in, d_out,
                      round_dp=round_dp)
    return proj.select(
        id_col, F.posexplode("proj").alias("dim", "value"))
