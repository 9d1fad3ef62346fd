"""One vector-index interface over every kNN layout.

The ladder's stage-3 fallback is one operator, "kNN over the embedding
index" (the reference serves it through a single ES kNN adapter,
``elasticsearch_adapters.py:819-843``).  Each class here owns one layout's
on-disk format — meta file, partition columns, per-row cell/band
assignment and code encoding — and serves it through the same methods:

  * ``probe(qv, k)`` → lazy (vec_id, cos_sim) top-k for one query;
  * ``probe_many(queries, k, as_rows)`` → (query_id, vec_id, cos_sim)
    per-query top-k for a query set, lazy or as collected tuples;
  * ``stage_rows(df)`` → the partition-assigned, encoded rows that
    ``write`` lays out under ``part_cols`` (the ``write_*_index``
    functions and ``streaming.incremental.fold_delta_embeddings`` both go
    through it, so a folded row is indistinguishable from a built one).

The probes delegate to the ``knn_*_probe`` / ``knn_*_probe_many``
operators in ``similarity`` / ``pq`` / ``sq``; every layout returns exact
cosines, so the ladder downstream is layout-blind.  ``ExactIndex`` serves
a plain embeddings table (``embeddings=`` plans and the streamed delta
overlay) through the same interface.  ``VECTOR_INDEXES`` maps each
``ann_kind`` to its class.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.fs import fs_for
from . import pq, similarity, sq


def _as_rows(hits: DataFrame) -> list[tuple[int, int, float]]:
    return [(r["query_id"], r["vec_id"], r["cos_sim"]) for r in hits.collect()]


class ExactIndex:
    """Exact cosine kNN over a plain (vec_id, embedding) table — one scan
    per probe, shuffle-free per-query gemv for a query set."""

    kind = "bruteforce"
    # True when probe_many(as_rows=True) merges task-local top-ks on the
    # driver (no window exchange); the batch ladder serves such a base in
    # rows mode and every other base as one lazy plan
    driver_merge = False

    def __init__(self, df: DataFrame | None):
        self.df = df

    def probe(self, qv: list[float], k: int) -> DataFrame:
        # arrow=True at every dim: the numpy gemv is bit-identical to
        # knn_bruteforce_many's per-query gemv (9-decimal parity tests)
        return similarity.knn_bruteforce(self.df, qv, k=k, arrow=True)

    def probe_many(
        self, queries: list[tuple[int, list[float]]], k: int, as_rows: bool = False
    ):
        hits = similarity.knn_bruteforce_many(self.df, queries, k=k)
        return _as_rows(hits) if as_rows else hits


class _Layout(ExactIndex):
    """A partitioned ANN layout on disk: parquet under ``part_cols`` plus
    one meta JSON, read once when the index is opened."""

    kind: str
    meta_name: str
    part_cols: tuple[str, ...]

    def __init__(
        self,
        meta: dict,
        df: DataFrame | None = None,
        path: str | None = None,
        n_probe: int = 3,
        max_hamming: int = 2,
        refine: int = 4,
    ):
        super().__init__(df)
        self.meta, self.path = meta, path
        self.n_probe, self.max_hamming, self.refine = n_probe, max_hamming, refine

    @classmethod
    def meta_path(cls, path: str) -> str:
        return os.path.join(path, cls.meta_name)

    @classmethod
    def read_meta(cls, path: str) -> dict:
        # through fs_for like the index manifests, so non-local index paths
        # (s3/hdfs) work end-to-end
        return fs_for(path).read_json(cls.meta_path(path))

    @classmethod
    def load(cls, spark, path: str, **dials) -> "_Layout":
        ix = cls(cls.read_meta(path), path=path, **dials)
        ix.df = spark.read.parquet(path)
        return ix

    def persist(self) -> "_Layout":
        """Cache the index for a standing server: re-reading the ANN parquet
        per batch cost ~5 s of the 960k vector stage; filters on the cached
        relation still prune via in-memory batch stats."""
        self.df = self.df.persist()
        return self

    def stage_rows(
        self, df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
    ) -> DataFrame:
        raise NotImplementedError

    def write_rows(self, df: DataFrame, path: str, **cols) -> None:
        """``stage_rows(df)`` written ``partitionBy(part_cols)`` — probes then
        read only the matching partition directories (PartitionFilters)."""
        self.stage_rows(df, **cols).repartition(*self.part_cols).write.mode(
            "overwrite"
        ).partitionBy(*self.part_cols).parquet(path)

    def write(self, df: DataFrame, path: str, **cols) -> None:
        self.write_rows(df, path, **cols)
        fs_for(path).commit_json(self.meta_path(path), self.meta)


class IvfIndex(_Layout):
    """``write_ivf_index``: rows partitioned by nearest trained centroid."""

    kind = "ivf"
    meta_name = "_ivf_meta.json"
    part_cols = ("ivf_cell",)
    driver_merge = True

    def __init__(self, meta: dict, *args, **kwargs):
        super().__init__(meta, *args, **kwargs)
        self.centroids = np.asarray(meta["centroids"], dtype=np.float64)

    def stage_rows(self, df, vec_col="embedding", id_col="vec_id"):
        # nearest EXISTING centroid — a fold never retrains, so probes stay
        # consistent with queries planned against the stored centroids
        return similarity.assign_ivf_cells(df, self.centroids, vec_col=vec_col)

    def probe(self, qv, k):
        return similarity.knn_ivf_probe(
            self.df, self.centroids, qv, k=k, n_probe=self.n_probe
        )

    def probe_many(self, queries, k, as_rows=False):
        return similarity.knn_ivf_probe_many(
            self.df, self.centroids, queries, k=k, n_probe=self.n_probe,
            as_rows=as_rows,
        )


class IvfPqIndex(IvfIndex):
    """``write_ivf_pq_index``: IVF cells + 1-byte-per-subspace residual PQ
    codes; ADC over the codes picks refine·k candidates, exact re-rank."""

    kind = "ivf_pq"
    meta_name = "_ivf_pq_meta.json"

    def __init__(self, meta: dict, *args, **kwargs):
        if not meta.get("residual"):
            # codes quantizing raw vectors would silently mis-rank under the
            # residual ADC offsets (and a fold would mix two encodings in
            # one index) — refuse rather than serve wrong candidates
            raise ValueError(
                "pre-residual ivf_pq index format; rebuild with write_ivf_pq_index"
            )
        super().__init__(meta, *args, **kwargs)
        self.codebooks = np.asarray(meta["codebooks"], dtype=np.float64)

    def stage_rows(self, df, vec_col="embedding", id_col="vec_id"):
        return pq.encode_pq(
            super().stage_rows(df, vec_col), self.codebooks, vec_col,
            centroids=self.centroids,
        )

    def probe(self, qv, k):
        return pq.knn_ivf_pq_probe(
            self.df, self.centroids, self.codebooks, qv,
            k=k, n_probe=self.n_probe, refine=self.refine,
        )

    def probe_many(self, queries, k, as_rows=False):
        return pq.knn_ivf_pq_probe_many(
            self.df, self.centroids, self.codebooks, queries,
            k=k, n_probe=self.n_probe, refine=self.refine, as_rows=as_rows,
        )


class IvfSq8Index(IvfIndex):
    """``write_ivf_sq8_index``: IVF cells + dim-byte int8 codes against the
    stored per-dimension (vmin, vmax) — the ES dense_vector default."""

    kind = "ivf_sq8"
    meta_name = "_ivf_sq8_meta.json"

    def __init__(self, meta: dict, *args, **kwargs):
        super().__init__(meta, *args, **kwargs)
        self.vmin = np.asarray(meta["vmin"], dtype=np.float64)
        self.vmax = np.asarray(meta["vmax"], dtype=np.float64)

    def stage_rows(self, df, vec_col="embedding", id_col="vec_id"):
        return sq.encode_sq8(
            super().stage_rows(df, vec_col), self.vmin, self.vmax, vec_col
        )

    def probe(self, qv, k):
        return sq.knn_ivf_sq8_probe(
            self.df, self.centroids, self.vmin, self.vmax, qv,
            k=k, n_probe=self.n_probe, refine=self.refine,
        )

    def probe_many(self, queries, k, as_rows=False):
        return sq.knn_ivf_sq8_probe_many(
            self.df, self.centroids, self.vmin, self.vmax, queries,
            k=k, n_probe=self.n_probe, refine=self.refine, as_rows=as_rows,
        )


class LshIndex(_Layout):
    """``write_lsh_index``: hyperplane signature, partitioned by its top
    bits; probes enumerate the bands within ``max_hamming``."""

    kind = "lsh"
    meta_name = "_lsh_meta.json"
    part_cols = ("lsh_band",)

    def stage_rows(self, df, vec_col="embedding", id_col="vec_id"):
        m = self.meta
        with_sig = similarity.add_lsh_signature(
            df, m["dim"], m["n_planes"], m["seed"], vec_col
        )
        return with_sig.withColumn(
            "lsh_band", similarity.lsh_band(F.col("lsh_sig"), m["n_planes"])
        )

    def probe(self, qv, k):
        return similarity.knn_lsh_probe(
            self.df.sparkSession, self.path, qv, k=k,
            max_hamming=self.max_hamming, df=self.df,
        )

    def probe_many(self, queries, k, as_rows=False):
        hits = similarity.knn_lsh_probe_many(
            self.df.sparkSession, self.path, queries, k=k,
            max_hamming=self.max_hamming, df=self.df, meta=self.meta,
        )
        return _as_rows(hits) if as_rows else hits


class LshMultibandIndex(_Layout):
    """``write_lsh_multiband_index``: one row per (vector, band), partitioned
    by (band index, band value); probes match any band exactly."""

    kind = "lsh_mb"
    meta_name = "_lsh_mb_meta.json"
    part_cols = ("lsh_band_idx", "lsh_band_val")

    def stage_rows(self, df, vec_col="embedding", id_col="vec_id"):
        m = self.meta
        with_sig = similarity.add_lsh_signature(
            df, m["dim"], m["n_bands"] * m["band_bits"], m["seed"], vec_col
        )
        bands = F.array(
            *similarity.lsh_mb_band_values(
                F.col("lsh_sig"), m["n_bands"], m["band_bits"]
            )
        )
        return with_sig.withColumn("_bands", bands).select(
            F.col(id_col),
            F.col(vec_col),
            F.posexplode("_bands").alias(*self.part_cols),
        )

    def probe(self, qv, k):
        return similarity.knn_lsh_multiband_probe(
            self.df.sparkSession, self.path, qv, k=k, df=self.df
        )

    def probe_many(self, queries, k, as_rows=False):
        hits = similarity.knn_lsh_multiband_probe_many(
            self.df.sparkSession, self.path, queries, k=k, df=self.df,
            meta=self.meta,
        )
        return _as_rows(hits) if as_rows else hits


VECTOR_INDEXES: dict[str, type[_Layout]] = {
    c.kind: c for c in (IvfIndex, IvfPqIndex, IvfSq8Index, LshIndex, LshMultibandIndex)
}


def index_class(kind: str) -> type[_Layout]:
    """The layout class registered for ``kind``; ValueError when unknown."""
    try:
        return VECTOR_INDEXES[kind]
    except KeyError:
        raise ValueError(
            f"unknown ann_kind: {kind!r} (expected one of {list(VECTOR_INDEXES)})"
        ) from None
