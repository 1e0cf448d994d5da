"""Seeded input generators and the numpy reference values the output checks
compare against.

Every input is generated on the driver with numpy from the run's seed and
written as parquet; the engine only ever sees the DataFrames read back.
The reference values are computed here from the same arrays, never through
the code path being timed.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# bump when a generator changes, so staged inputs are never reused across
# generator versions (they are keyed by seed, size and this version)
GEN_VERSION = 1

EXTENT_X, EXTENT_Y = 3000.0, 2000.0
N_KINDS = 16
N_FEATURES = 10
# 10% of docs fall in the 80x80 box [1460, 1540) x [960, 1040), which lies
# inside one res-100 tile of the benchmark grid (origin -50)
HOT_FRAC = 0.10
HOT_X0, HOT_Y0, HOT_SIDE = 1460.0, 960.0, 80.0
# coordinates are k/1000 + COORD_EPS: never on a gridline (integers) or a
# polygon edge (.5 offsets), so boundary tie-breaks never decide a check
COORD_EPS = 0.0003


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _words(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct lowercase pseudo-words."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out: set[str] = set()
    while len(out) < n:
        ln = int(rng.integers(3, 10))
        out.add("".join(rng.choice(letters, ln)))
    return np.array(sorted(out), dtype=object)


def write_parquet(table: pa.Table, path: str, files: int) -> None:
    """Write ``table`` as ``files`` parquet files under directory ``path``."""
    import os

    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        part = table.slice(i * step, step)
        pq.write_table(part, os.path.join(path, f"part-{i:04d}.parquet"), row_group_size=65536)


# ---------------------------------------------------------------------------
# point corpus (raster, spatial)


def docs(seed: int, n: int) -> dict:
    """The interleaved document corpus: coordinates, kind, a 10-feature
    integer-valued vector and a ``spans`` array of text and media-ref spans."""
    rng = _rng(seed, 1)
    ix = rng.integers(0, int(EXTENT_X * 1000), n)
    iy = rng.integers(0, int(EXTENT_Y * 1000), n)
    hot = rng.random(n) < HOT_FRAC
    nh = int(hot.sum())
    ix[hot] = int(HOT_X0 * 1000) + rng.integers(0, int(HOT_SIDE * 1000), nh)
    iy[hot] = int(HOT_Y0 * 1000) + rng.integers(0, int(HOT_SIDE * 1000), nh)
    x = ix / 1000.0 + COORD_EPS
    y = iy / 1000.0 + COORD_EPS
    kind = rng.integers(0, N_KINDS, n)
    vals = rng.integers(0, 100, (n, N_FEATURES)).astype(np.float64)
    n_spans = rng.integers(2, 7, n)
    return {"n": n, "doc_id": np.arange(n, dtype=np.int64), "x": x, "y": y,
            "kind": kind, "vals": vals, "n_spans": n_spans,
            "span_rng": _rng(seed, 2)}


def docs_table(d: dict) -> pa.Table:
    n = d["n"]
    kind_names = pa.array([f"ct{k}" for k in range(N_KINDS)])
    kind = pc.take(kind_names, pa.array(d["kind"]))
    feats = pa.array(np.tile([f"g{j}" for j in range(N_FEATURES)], n))
    values = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * N_FEATURES + 1, N_FEATURES, dtype=np.int32)),
        pa.StructArray.from_arrays(
            [feats, pa.array(d["vals"].ravel())], names=["feature", "value"]
        ),
    )
    rng = d["span_rng"]
    total = int(d["n_spans"].sum())
    is_media = rng.random(total) < 0.3
    vocab = pa.array(_words(rng, 512).tolist())
    word_ix = rng.integers(0, len(vocab), (6, total))
    text = pc.binary_join_element_wise(*[pc.take(vocab, pa.array(w)) for w in word_ix], " ")
    text = pc.if_else(pa.array(is_media), pa.nulls(total, pa.string()), text)
    ref = pc.binary_join_element_wise(
        "media/", pc.cast(pa.array(rng.integers(0, 1 << 40, total)), pa.string()), ".jpg", ""
    )
    ref = pc.if_else(pa.array(is_media), ref, pa.nulls(total, pa.string()))
    stype = pc.if_else(pa.array(is_media), "media", "text")
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(d["n_spans"], out=offsets[1:])
    spans = pa.ListArray.from_arrays(
        pa.array(offsets),
        pa.StructArray.from_arrays([stype, text, ref], names=["type", "text", "ref"]),
    )
    d["span_text_len"] = int(pc.sum(pc.utf8_length(text)).as_py() or 0)
    d["span_total"] = total
    return pa.table({
        "doc_id": d["doc_id"], "x": d["x"], "y": d["y"], "kind": kind,
        "values": values, "spans": spans,
    })


def square_rowcol(x, y, xmin, ymin, res):
    """Plain floor-division tile row/col (no point sits on a gridline)."""
    return np.floor((y - ymin) / res).astype(np.int64), np.floor((x - xmin) / res).astype(np.int64)


def pack_square(row, col, level=0):
    """Packed square cell id: level << 56 | (row + 2^27) << 28 | (col + 2^27)."""
    off = 1 << 27
    return (np.int64(level) << 56) | ((row + off) << 28) | (col + off)


def unpack_rowcol(cell_id):
    cid = np.asarray(cell_id, dtype=np.int64)
    mask, off = (1 << 28) - 1, 1 << 27
    return ((cid >> 28) & mask) - off, (cid & mask) - off


def parcels(seed: int, n: int, unit: float) -> dict:
    """Axis-aligned rectangles with corners at .5 offsets, sides
    ``unit * (1..8)``."""
    rng = _rng(seed, 3)
    xa = rng.integers(0, 2800, n) + 0.5
    ya = rng.integers(0, 1800, n) + 0.5
    w = rng.integers(1, 9, n) * unit
    h = rng.integers(1, 9, n) * unit
    return {"poly_id": np.arange(n, dtype=np.int64), "xa": xa, "ya": ya, "xb": xa + w, "yb": ya + h}


def parcels_table(p: dict) -> pa.Table:
    xa, xb, ya, yb = p["xa"], p["xb"], p["ya"], p["yb"]
    n = len(xa)
    off = pa.array(np.arange(0, 4 * n + 1, 4, dtype=np.int32))
    xs = pa.ListArray.from_arrays(off, pa.array(np.stack([xa, xb, xb, xa], 1).ravel()))
    ys = pa.ListArray.from_arrays(off, pa.array(np.stack([ya, ya, yb, yb], 1).ravel()))
    return pa.table({"poly_id": p["poly_id"], "xs": xs, "ys": ys})


def rect_pair_sums(x, y, f, p: dict) -> tuple[int, int]:
    """(number of (point, rect) containments, Σ over them of f(point) *
    (poly_id mod 1009)) via 2-D prefix sums on the integer grid the .5 rect
    corners and the k/1000 + eps coordinates live on."""
    gx, gy = int(EXTENT_X) + 1, int(EXTENT_Y) + 1
    # a point with floor(x - .5) = i lies in [a + .5, b + .5] iff a <= i < b
    ix = np.floor(x - 0.5).astype(np.int64) + 1
    iy = np.floor(y - 0.5).astype(np.int64) + 1
    cnt = np.zeros((gy + 1, gx + 1), dtype=np.int64)
    val = np.zeros((gy + 1, gx + 1), dtype=np.int64)
    np.add.at(cnt, (iy + 1, ix + 1), 1)
    np.add.at(val, (iy + 1, ix + 1), f)
    cnt = cnt.cumsum(0).cumsum(1)
    val = val.cumsum(0).cumsum(1)

    def box(t, a0, b0, a1, b1):
        # cells a0 <= i < a1 (x), b0 <= j < b1 (y), shifted by the +1 bias
        a0, a1 = np.clip(a0 + 1, 0, gx), np.clip(a1 + 1, 0, gx)
        b0, b1 = np.clip(b0 + 1, 0, gy), np.clip(b1 + 1, 0, gy)
        return t[b1, a1] - t[b0, a1] - t[b1, a0] + t[b0, a0]

    a0 = np.floor(p["xa"]).astype(np.int64)
    a1 = np.floor(p["xb"]).astype(np.int64)
    b0 = np.floor(p["ya"]).astype(np.int64)
    b1 = np.floor(p["yb"]).astype(np.int64)
    n = box(cnt, a0, b0, a1, b1)
    s = box(val, a0, b0, a1, b1)
    return int(n.sum()), int((s * (p["poly_id"] % 1009)).sum())


def pairs_within(x, y, r: float):
    """(i, j, d2) for all unordered pairs with squared distance <= r^2,
    by sweeping the x-sorted points."""
    order = np.argsort(x, kind="stable")
    xs, ys = x[order], y[order]
    hi = np.searchsorted(xs, xs + r, side="right")
    out_i, out_j, out_d = [], [], []
    n = len(xs)
    step = 4096
    for s in range(0, n, step):
        i = np.arange(s, min(s + step, n))
        cnt = hi[i] - i - 1
        ii = np.repeat(i, cnt)
        jj = np.arange(len(ii)) - np.repeat(np.cumsum(cnt) - cnt, cnt) + ii + 1
        d2 = (xs[ii] - xs[jj]) ** 2 + (ys[ii] - ys[jj]) ** 2
        keep = d2 <= r * r
        out_i.append(order[ii[keep]])
        out_j.append(order[jj[keep]])
        out_d.append(d2[keep])
    return np.concatenate(out_i), np.concatenate(out_j), np.concatenate(out_d)


# ---------------------------------------------------------------------------
# text + vectors (dedup)


def text_corpus(seed: int, n: int) -> dict:
    """Docs of 60-120 words over a 4096-word vocabulary, with planted
    near-duplicate families (one word substituted), exact copies and a
    boilerplate page repeated with a one-word suffix (the hot LSH bucket)."""
    rng = _rng(seed, 5)
    vocab = _words(rng, 4096)
    boiler = " ".join(vocab[rng.integers(0, len(vocab), 80)])
    texts: list[str] = []
    near: list[tuple[int, int]] = []
    plain: list[int] = []  # docs outside the boilerplate family
    role = rng.random(n)
    for i in range(n):
        if len(plain) >= 10 and role[i] < 0.10:
            src = plain[int(rng.integers(0, len(plain)))]
            toks = texts[src].split(" ")
            toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.integers(0, len(vocab)))]
            near.append((src, i))
            plain.append(i)
            texts.append(" ".join(toks))
        elif i >= 10 and role[i] < 0.15:
            src = int(rng.integers(0, i))
            if not texts[src].startswith(boiler):
                plain.append(i)
            texts.append(texts[src])
        elif role[i] < 0.18:
            texts.append(boiler + " " + vocab[int(rng.integers(0, len(vocab)))])
        else:
            plain.append(i)
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(60, 121)))]))
    return {"texts": texts, "near": near, "plain": plain}


def shingles(text: str, k: int = 3) -> set[str]:
    t = text.split()
    return {" ".join(t[i : i + k]) for i in range(len(t) - k + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def vectors(seed: int, n: int, dim: int) -> dict:
    """``n`` x ``dim`` vectors of k/1000 components; 1% are exact copies of
    distinct earlier originals (the planted duplicate pairs)."""
    rng = _rng(seed, 6)
    v = rng.integers(-1000, 1001, (n, dim)) / 1000.0
    n_dup = n // 100
    copies = rng.choice(np.arange(n // 2, n), n_dup, replace=False)
    sources = rng.choice(np.arange(0, n // 2), n_dup, replace=False)
    v[copies] = v[sources]
    pairs = {(int(min(s, c)), int(max(s, c))) for s, c in zip(sources, copies)}
    return {"vecs": v, "pairs": pairs}


def vectors_table(v: np.ndarray) -> pa.Table:
    n, dim = v.shape
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), pa.array(v.ravel())
    )
    return pa.table({"vec_id": np.arange(n, dtype=np.int64), "embedding": emb})
