"""The three benchmark workloads: seeded staging, the op list, and an
output check per op.

Each op calls ``seraster_spark`` public functions through the tracer
(``t.call(module, fn, ...)``), forces the result with one action
(``t.force(module, ...)``) and checks it against numpy reference values
computed at staging time. A check raises :class:`CheckFailed`; an op
returns a fingerprint that must be the same on every pass.
"""

from __future__ import annotations

import math
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F

from seraster_spark import jobs as J
from seraster_spark import knn as K
from seraster_spark import pointpat as P
from seraster_spark import rasterize as R
from seraster_spark import similarity as S
from seraster_spark import text as T
from seraster_spark import vector as V
from seraster_spark.grid import GridSpec
from seraster_spark.joins import asof_join_bucketed
from seraster_spark.permutate import permutate_by_rotation

from . import data as D

# input sizes: small enough that a whole run (JVM start, staging, warm-up
# pass, measured pass) stays near a minute on 4 cores; at these sizes most
# op time is per-query overhead, not data
N_DOCS = 20_000
N_PARCELS = 2_000  # spatial_join_corpus rects, 5-40 units a side
N_QUERIES = 500
N_TEXT = 2_000
N_VEC = 5_000
DIM = 64

SPEC_SQ = GridSpec(-50.0, -50.0, 3050.0, 2050.0, 100.0, square=True)
SPEC_HX = GridSpec(-50.0, -50.0, 3050.0, 2050.0, 100.0, square=False)
SPEC_ROT = GridSpec(-2000.0, -2000.0, 5000.0, 4000.0, 100.0, square=True)
# join grid sized to the parcels (a few parcels per cell), not the raster
SPEC_SJ = GridSpec(-50.0, -50.0, 3050.0, 2050.0, 12.5, square=True)
FILES = 4  # parquet files per staged table


class CheckFailed(AssertionError):
    pass


def expect(cond, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def _round_floats(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.apply(lambda s: s.round(6) if s.dtype.kind == "f" else s)


def arrow_rows(df, cols=None):
    """Force ``df`` by collecting it as Arrow; ``(rows, pandas frame)``."""
    tbl = (df.select(*cols) if cols else df).toArrow()
    return tbl.num_rows, tbl.to_pandas()


def frame_fingerprint(pdf: pd.DataFrame) -> int:
    """Order-independent content hash of a collected frame."""
    h = pd.util.hash_pandas_object(_round_floats(pdf), index=False).to_numpy()
    return int(h.sum(dtype=np.uint64))


def agg_row(df, **extra):
    """Force ``df`` with one aggregate over every column: row count, an
    order-independent row-hash, and ``extra`` named aggregates."""
    cols = [F.round(F.col(c), 6) if t == "double" else F.col(c) for c, t in df.dtypes]
    row = df.agg(
        F.count(F.lit(1)).alias("_n"),
        F.bit_xor(F.xxhash64(*cols)).alias("_h"),
        *[v.alias(k) for k, v in extra.items()],
    ).collect()[0]
    return row["_n"], row.asDict()


class Workload:
    name = ""

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed
        self.n_inputs = 0
        # values recorded with the result but never counted as failures
        self.diagnostics: dict[str, float] = {}

    def stage(self, path: str) -> None:
        """Generate every input from the seed under ``path``."""
        raise NotImplementedError

    def prepare(self) -> None:
        """Compute the reference values the checks compare against, from
        the arrays the last :meth:`stage` generated."""
        raise NotImplementedError

    def ops(self) -> list:
        """``[(name, fn(tracer, pass_dir) -> fingerprint)]``."""
        raise NotImplementedError

    def read(self, path: str):
        return self.spark.read.parquet(path)


class _Points(Workload):
    """Shared point-corpus staging for ``raster`` and ``spatial``."""

    def stage_docs(self, path: str) -> None:
        d = D.docs(self.seed, N_DOCS)
        self.docs_path = os.path.join(path, "docs")
        D.write_parquet(D.docs_table(d), self.docs_path, FILES)
        self.d = d
        self.docs = self.read(self.docs_path)
        self.n_inputs = N_DOCS


class Raster(_Points):
    """The paper's job: rasterize the corpus, square and hex, sum and mean,
    rotation permutations, pyramid, salted roster, span round-trip and the
    checkpointed job with its resume pass."""

    name = "raster"

    def stage(self, path):
        self.stage_docs(path)

    def prepare(self):
        d = self.d
        row, col = D.square_rowcol(d["x"], d["y"], SPEC_SQ.xmin, SPEC_SQ.ymin, 100.0)
        self.cid = D.pack_square(row, col)
        self.tile = row * SPEC_SQ.ncols + col
        ntile = SPEC_SQ.ncols * SPEC_SQ.nrows
        self.kind_counts = np.bincount(d["kind"], minlength=D.N_KINDS)
        self.tile_kind = np.bincount(self.tile * D.N_KINDS + d["kind"], minlength=ntile * D.N_KINDS)
        self.tile_count = np.bincount(self.tile, minlength=ntile)
        sums = np.zeros((ntile, D.N_FEATURES))
        np.add.at(sums, self.tile, d["vals"])
        self.feature_sums = sums
        prow, pcol = row // 4, col // 4
        self.pyramid = pd.Series(1, index=D.pack_square(prow, pcol, level=2)).groupby(level=0).sum()
        self.span_cell_sum = int((d["n_spans"] * (self.cid % 1_000_003)).sum())
        ref = self.docs.select("doc_id", F.posexplode("spans")).agg(
            F.bit_xor(F.xxhash64("doc_id", "pos", "col")).alias("h")
        ).collect()[0]
        self.span_hash = ref["h"]

    def _decode(self, pdf):
        row, col = D.unpack_rowcol(pdf["cell_id"].to_numpy())
        return row * SPEC_SQ.ncols + col

    def ops(self):
        docs = self.docs
        n = N_DOCS

        def square_sum(t, _):
            out = t.call("rasterize", R.rasterize_cell_type, docs, 100.0, fun="sum", spec=SPEC_SQ)
            rows, pdf = t.force("rasterize", lambda: arrow_rows(out))
            tile = self._decode(pdf)
            kind = pdf["kind"].str.slice(2).astype(int).to_numpy()
            got = np.zeros_like(self.tile_kind, dtype=np.float64)
            got[tile * D.N_KINDS + kind] = pdf["pixelval"].to_numpy()
            expect(rows == int((self.tile_kind > 0).sum()), "square: (tile, kind) row count")
            expect(np.array_equal(got, self.tile_kind), "square: per-(tile, kind) counts")
            expect(
                np.array_equal(pdf["num_cell"].to_numpy(), self.tile_count[tile]),
                "square: num_cell",
            )
            sample = np.isin(self.tile, np.unique(tile)[:64])
            expect(
                set(self.cid[sample].tolist()) <= set(pdf["cell_id"].tolist()),
                "square: numpy floor-division tile ids",
            )
            return frame_fingerprint(pdf)

        def hex_sum(t, _):
            out = t.call("rasterize", R.rasterize_cell_type, docs, 100.0, fun="sum", spec=SPEC_HX)
            rows, pdf = t.force("rasterize", lambda: arrow_rows(out))
            expect(pdf["pixelval"].sum() == n, "hex: total count conserved")
            per_kind = pdf.groupby("kind")["pixelval"].sum()
            want = {f"ct{k}": float(c) for k, c in enumerate(self.kind_counts)}
            expect(per_kind.to_dict() == want, "hex: per-kind totals")
            per_cell = pdf.groupby("cell_id").agg(s=("pixelval", "sum"), m=("num_cell", "first"))
            expect((per_cell["s"] == per_cell["m"]).all(), "hex: num_cell = sum over kinds")
            return frame_fingerprint(pdf)

        def gene_mean(t, _):
            out = t.call(
                "rasterize", R.rasterize_gene_expression, docs, 100.0, fun="mean", spec=SPEC_SQ
            )
            rows, pdf = t.force("rasterize", lambda: arrow_rows(out))
            tile = self._decode(pdf)
            feat = pdf["feature"].str.slice(1).astype(int).to_numpy()
            occupied = self.tile_count > 0
            expect(rows == int(occupied.sum()) * D.N_FEATURES, "gene: row count")
            want = self.feature_sums[tile, feat] / self.tile_count[tile]
            expect(np.array_equal(pdf["pixelval"].to_numpy(), want), "gene: exact means")
            return frame_fingerprint(pdf)

        def rotation(t, _):
            rot = t.call(
                "permutate", permutate_by_rotation, docs.drop("values", "spans"),
                n_perm=4, origin=(1500.0, 1000.0),
            )
            out = t.call(
                "rasterize", R.rasterize_cell_type, rot, 100.0, fun="sum",
                group_cols=["perm"], spec=SPEC_ROT,
            )

            def force():
                pdf = (
                    out.groupBy("perm", "kind")
                    .agg(
                        F.sum("pixelval").alias("s"),
                        F.count(F.lit(1)).alias("n"),
                        F.bit_xor(F.xxhash64("cell_id", "pixelval", "num_cell")).alias("h"),
                    )
                    .toPandas()
                )
                return int(pdf["n"].sum()), pdf

            _, pdf = t.force("rasterize", force)
            expect(pdf["perm"].nunique() == 4, "rotation: 4 permutations")
            for _perm, g in pdf.groupby("perm"):
                got = dict(zip(g["kind"], g["s"]))
                want = {f"ct{k}": float(c) for k, c in enumerate(self.kind_counts)}
                expect(got == want, "rotation: per-kind totals conserved in every permutation")
            return frame_fingerprint(pdf)

        def pyramid(t, _):
            base = t.call("rasterize", R.assign_tiles, docs.select("doc_id", "x", "y"), SPEC_SQ)
            base = base.groupBy("cell_id").agg(F.count(F.lit(1)).cast("double").alias("pixelval"))
            l1, s1 = t.call("rasterize", R.rollup_tiles, base, SPEC_SQ, factor=2)
            l2, _s2 = t.call("rasterize", R.rollup_tiles, l1.select("cell_id", "pixelval"), s1, factor=2)
            rows, pdf = t.force("rasterize", lambda: arrow_rows(l2))
            got = pdf.set_index("cell_id")["pixelval"].sort_index()
            want = self.pyramid.sort_index().astype(float)
            expect(got.index.equals(want.index), "pyramid: level-2 tile ids")
            expect(np.array_equal(got.to_numpy(), want.to_numpy()), "pyramid: level-2 counts")
            return frame_fingerprint(pdf)

        def salted_roster(t, _):
            wc = t.call("rasterize", R.assign_tiles, docs.select("doc_id", "x", "y"), SPEC_SQ)
            meta = t.call("rasterize", R.tile_meta, wc, SPEC_SQ, salt_buckets=16)
            rows, r = t.force("rasterize", lambda: agg_row(
                meta,
                num=F.sum("num_cell"),
                top=F.max("num_cell"),
                listed=F.sum(F.size("cellID_list")),
                bad=F.sum((F.size("cellID_list") != F.col("num_cell")).cast("int")),
                unsorted=F.sum((F.array_sort("cellID_list") != F.col("cellID_list")).cast("int")),
            ))
            expect(rows == int((self.tile_count > 0).sum()), "roster: tile count")
            expect(r["num"] == n and r["listed"] == n, "roster: docs conserved")
            expect(r["bad"] == 0 and r["unsorted"] == 0, "roster: sorted, sized like num_cell")
            expect(r["top"] == self.tile_count.max(), "roster: hot tile size")
            return r["_n"], r["_h"]

        def span_roundtrip(t, _):
            wc = t.call(
                "rasterize", R.assign_tiles, docs.select("doc_id", "x", "y", "spans"), SPEC_SQ
            )
            ex = wc.select("doc_id", "cell_id", F.posexplode("spans"))
            rows, r = t.force("rasterize", lambda: agg_row(
                ex,
                span_h=F.bit_xor(F.xxhash64("doc_id", "pos", "col")),
                text_len=F.sum(F.length("col.text")),
                cell_sum=F.sum(F.pmod("cell_id", F.lit(1_000_003))),
            ))
            expect(rows == self.d["span_total"], "spans: span count")
            expect(r["text_len"] == self.d["span_text_len"], "spans: text length")
            expect(r["span_h"] == self.span_hash, "spans: round-trip equals the input")
            expect(r["cell_sum"] == self.span_cell_sum, "spans: tile of every span")
            return r["_n"], r["_h"]

        def jobs_run(t, pass_dir):
            out_dir = os.path.join(pass_dir, "tiles")
            argv = ["--input", self.docs_path, "--output", out_dir, "--units", "8"]
            m1 = t.call("jobs", J.run, argv)
            m2 = t.call("jobs", J.run, argv)

            def force():
                pdf = (
                    self.read(out_dir)
                    .agg(F.count(F.lit(1)).alias("n"), F.sum("pixelval").alias("s"))
                    .toPandas()
                )
                return int(pdf["n"][0]), pdf

            _, pdf = t.force("jobs", force)
            g = m1["grid"]
            row, col = D.square_rowcol(self.d["x"], self.d["y"], g["xmin"], g["ymin"], 100.0)
            key = (row * 100_000 + col) * D.N_KINDS + self.d["kind"]
            want = len(np.unique(key))
            expect(m1["units_written"] == 8 and m1["units_skipped"] == 0, "jobs: first run")
            expect(m2["units_written"] == 0 and m2["units_skipped"] == 8, "jobs: resume skips all")
            expect(m1["rows_written"] == want == pdf["n"][0], "jobs: rows written")
            expect(pdf["s"][0] == n, "jobs: written counts conserved")
            shutil.rmtree(out_dir)
            return want, float(pdf["s"][0])

        return [
            ("raster_square_kind_sum", square_sum),
            ("raster_hex_kind_sum", hex_sum),
            ("raster_square_value_mean", gene_mean),
            ("rotation_raster", rotation),
            ("tile_pyramid", pyramid),
            ("salted_roster", salted_roster),
            ("span_roundtrip", span_roundtrip),
            ("jobs_run", jobs_run),
        ]


class Spatial(_Points):
    """The spatial candidate joins on the seeded point corpus."""

    name = "spatial"

    def stage(self, path):
        self.stage_docs(path)
        self.parcel_arrays = D.parcels(self.seed, N_PARCELS, 5.0)
        ppath = os.path.join(path, "parcels")
        D.write_parquet(D.parcels_table(self.parcel_arrays), ppath, FILES)
        self.parcels = self.read(ppath)
        rng = np.random.default_rng([self.seed, 7])
        self.qx = rng.integers(0, 3_000_000, N_QUERIES) / 1000.0 + 0.0007
        self.qy = rng.integers(0, 2_000_000, N_QUERIES) / 1000.0 + 0.0007
        qpath = os.path.join(path, "queries")
        D.write_parquet(
            pa.table({"query_id": [str(i) for i in range(N_QUERIES)], "x": self.qx, "y": self.qy}),
            qpath, 1,
        )
        self.queries = self.read(qpath)

    def prepare(self):
        d = self.d
        x, y, ids = d["x"], d["y"], d["doc_id"]
        qx, qy = self.qx, self.qy
        self.sj_corpus = D.rect_pair_sums(x, y, ids % 1000, self.parcel_arrays)
        # kNN: brute force for a sample of the queries
        self.knn_ref = {}
        for q in range(0, N_QUERIES, 20):
            dd = (x - qx[q]) ** 2 + (y - qy[q]) ** 2
            nearest = np.lexsort((ids, dd))[:10]
            self.knn_ref[str(q)] = ids[nearest].tolist()
        self.res_knn = max(5.0, round(math.sqrt(4 * 10 * D.EXTENT_X * D.EXTENT_Y / N_DOCS), 1))
        # hot-cluster point statistics
        hot = (
            (x >= D.HOT_X0) & (x < D.HOT_X0 + D.HOT_SIDE)
            & (y >= D.HOT_Y0) & (y < D.HOT_Y0 + D.HOT_SIDE)
        )
        hx, hy, hv = x[hot], y[hot], ids[hot] % 997
        i, j, d2 = D.pairs_within(hx, hy, 1.0)
        self.n_hot = int(hot.sum())
        self.pair_ref = {}
        for r, lbl in ((0.5, "0p5"), (1.0, "1")):
            m = d2 <= r * r
            self.pair_ref[lbl] = (2 * int(m.sum()), 2 * float(((hv[i[m]] - hv[j[m]]) ** 2).sum()))
        # as-of join on a hot key: half the docs share kind "hot"
        kind = np.where(ids % 2 == 0, D.N_KINDS, d["kind"])
        right = ids % 3 == 0
        rid = np.full(N_DOCS, -1)
        for k in np.unique(kind):
            lk = np.nonzero(kind == k)[0]
            rk = ids[(kind == k) & right]
            pos = np.searchsorted(rk, ids[lk], side="right") - 1
            rid[lk] = np.where(pos >= 0, rk[np.maximum(pos, 0)], -1)
        self.asof_ref = (int((rid >= 0).sum()), int(rid[rid >= 0].sum() % 1_000_003))

    def ops(self):
        docs_xy = self.docs.select("doc_id", "x", "y")

        def sj_corpus(t, _):
            wc = t.call("rasterize", R.assign_tiles, docs_xy, SPEC_SJ)
            out = t.call("vector", V.spatial_join_corpus, wc, self.parcels, SPEC_SJ)
            rows, r = t.force("vector", lambda: agg_row(
                out.select("doc_id", "poly_id"),
                chk=F.sum(F.pmod("doc_id", F.lit(1000)) * F.pmod("poly_id", F.lit(1009))),
            ))
            expect((rows, r["chk"]) == self.sj_corpus, "sj_corpus: containment pairs")
            return r["_n"], r["_h"]

        def knn(t, _):
            spec = GridSpec(-50.0, -50.0, 3050.0, 2050.0, self.res_knn, square=True)
            out = t.call("knn", K.knn_join, docs_xy, self.queries, 10, spec)
            rows, pdf = t.force("knn", lambda: arrow_rows(out))
            expect(rows == N_QUERIES * 10, "knn: k rows per query")
            for q, want in self.knn_ref.items():
                got = pdf[pdf["query_id"] == q].sort_values("rank")["doc_id"].tolist()
                expect(got == want, f"knn: brute force disagrees on query {q}")
            return frame_fingerprint(pdf)

        hot = self.docs.where(
            (F.col("x") >= D.HOT_X0) & (F.col("x") < D.HOT_X0 + D.HOT_SIDE)
            & (F.col("y") >= D.HOT_Y0) & (F.col("y") < D.HOT_Y0 + D.HOT_SIDE)
        ).select("doc_id", "x", "y", F.pmod("doc_id", F.lit(997)).alias("val"))

        def pair_stats(t, _):
            out = t.call("pointpat", P.pair_stats, hot, [0.5, 1.0], value_col="val", exact_int=False)
            rows, pdf = t.force("pointpat", lambda: arrow_rows(out))
            r = pdf.iloc[0]
            expect(r["n_pts"] == self.n_hot, "pair_stats: point count")
            for lbl, (pcount, sv) in self.pair_ref.items():
                expect(r[f"pc_{lbl}"] == pcount, f"pair_stats: pair count at r={lbl}")
                expect(r[f"sv_{lbl}"] == sv, f"pair_stats: value sum at r={lbl}")
            return frame_fingerprint(pdf)

        def asof(t, _):
            hot_kind = (
                F.when(F.col("doc_id") % 2 == 0, F.lit("hot")).otherwise(F.col("kind")).alias("kind")
            )
            left = self.docs.select("doc_id", hot_kind, "x")
            right = self.docs.filter(F.col("doc_id") % 3 == 0).select(
                hot_kind, "doc_id", F.col("doc_id").alias("rid"), F.col("y").alias("v")
            )
            out = t.call(
                "joins", asof_join_bucketed, left, right, on=["kind"], ts_col="doc_id",
                right_cols=["rid", "v"], bucket=float(N_DOCS // 40), tiebreak="rid",
            )
            rows, r = t.force("joins", lambda: agg_row(
                out.select("doc_id", "kind", "asof_rid", "asof_v"),
                matched=F.count("asof_rid"),
                rid_sum=F.sum("asof_rid"),
            ))
            expect(rows == N_DOCS, "asof: one row per left doc")
            expect((r["matched"], r["rid_sum"] % 1_000_003) == self.asof_ref, "asof: matches")
            return r["_n"], r["_h"]

        return [
            ("spatial_join_corpus", sj_corpus),
            ("knn_500q", knn),
            ("pair_stats", pair_stats),
            ("asof_join_bucketed", asof),
        ]


class Dedup(Workload):
    """The training-data text and vector path."""

    name = "dedup"

    def stage(self, path):
        self.c = D.text_corpus(self.seed, N_TEXT)
        self.v = D.vectors(self.seed, N_VEC, DIM)
        tpath, vpath = os.path.join(path, "text"), os.path.join(path, "vecs")
        D.write_parquet(
            pa.table({"doc_id": np.arange(N_TEXT, dtype=np.int64), "text": self.c["texts"]}),
            tpath, FILES,
        )
        D.write_parquet(D.vectors_table(self.v["vecs"]), vpath, FILES)
        self.text = self.read(tpath)
        self.vecs = self.read(vpath)
        self.n_inputs = N_TEXT + N_VEC

    def prepare(self):
        groups: dict[str, list[int]] = {}
        for i, tx in enumerate(self.c["texts"]):
            groups.setdefault(tx, []).append(i)
        plain = set(self.c["plain"])
        self.exact_pairs = {
            (a, b) for g in groups.values() if len(g) > 1 and g[0] in plain
            for a in g for b in g if a < b
        }
        self.near_pairs = [(min(a, b), max(a, b)) for a, b in self.c["near"]]

    def ops(self):
        texts = self.c["texts"]

        def minhash(t, _):
            pairs = t.call(
                "text", T.minhash_lsh_candidates, self.text,
                verify_threshold=0.5, max_bucket_size=100,
            )
            rows, pdf = t.force("text", lambda: arrow_rows(pairs))
            found = set(zip(pdf["id_a"].tolist(), pdf["id_b"].tolist()))
            expect(self.exact_pairs <= found, "minhash: planted exact duplicates found")
            expect((pdf["jaccard"] >= 0.5).all(), "minhash: verify threshold")
            for r in pdf.head(200).itertuples():
                want = D.jaccard(texts[r.id_a], texts[r.id_b])
                expect(abs(r.jaccard - want) < 1e-12, "minhash: exact Jaccard")
            # recall on the one-word-edit families (Jaccard >= 0.9) is
            # recorded, not checked: 8 bands x 4 rows of independent
            # permutations would miss about 2e-4 of them
            self.diagnostics["minhash_near_recall"] = (
                sum(p in found for p in self.near_pairs) / max(1, len(self.near_pairs))
            )
            spairs = self.spark.createDataFrame(pdf[["id_a", "id_b"]])
            clusters = t.call("text", T.dedup_clusters, spairs)
            _n, cl = t.force("text", lambda: arrow_rows(clusters))
            # reference components by union-find over the collected pairs
            parent: dict[int, int] = {}

            def find(a):
                while parent.setdefault(a, a) != a:
                    parent[a] = parent[parent[a]]
                    a = parent[a]
                return a

            for a, b in found:
                ra, rb = find(a), find(b)
                parent[max(ra, rb)] = min(ra, rb)
            want = {node: find(node) for node in parent}
            got = dict(zip(cl["node"].tolist(), cl["cluster_id"].tolist()))
            expect(got == want, "dedup_clusters: components")
            return frame_fingerprint(pdf), frame_fingerprint(cl)

        def cosine(t, _):
            out = t.call(
                "similarity", S.cosine_near_duplicates, self.vecs, threshold=0.95, dim=DIM,
                n_planes=12, max_bucket_size=10_000,
            )
            rows, pdf = t.force("similarity", lambda: arrow_rows(out))
            got = set(zip(pdf["id_a"].tolist(), pdf["id_b"].tolist()))
            expect(got == self.v["pairs"], "cosine: exactly the planted duplicate pairs")
            return frame_fingerprint(pdf)

        return [("minhash_lsh_clusters", minhash), ("cosine_neardup", cosine)]


class SpatialDedup(Workload):
    """The candidate-join mix: the spatial joins on the seeded point
    corpus, then the text and vector near-duplicate path."""

    name = "spatial_dedup"

    def __init__(self, spark, seed):
        super().__init__(spark, seed)
        self.parts = (Spatial(spark, seed), Dedup(spark, seed))
        self.diagnostics = self.parts[1].diagnostics

    def stage(self, path):
        for part in self.parts:
            part.stage(os.path.join(path, part.name))
        self.n_inputs = sum(part.n_inputs for part in self.parts)

    def prepare(self):
        for part in self.parts:
            part.prepare()

    def ops(self):
        return [op for part in self.parts for op in part.ops()]

WORKLOADS = {w.name: w for w in (Raster, SpatialDedup)}
