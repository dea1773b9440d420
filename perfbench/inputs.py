"""Seeded benchmark inputs and the numpy brute-force answers the engine's
outputs are checked against.

Every generator draws from a ``numpy.random.Generator`` built from the
benchmark's ``--seed``; the engine only ever sees the parquet tables these
functions produce.  Skew is built in the same way everywhere: half of all
rows land around a few hot spots (the crawl's dense hosts), the rest are
spread over the world box.
"""

from __future__ import annotations

import pathlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: hot-spot slots.  Each seed jitters them, so hot-spot density (which sets
#: the cost of a kNN or range probe) is the same at every seed while the
#: positions differ; the slots sit well inside the world box so no hot spot
#: is clipped by an edge.
HOT_SLOTS = np.array(
    [(-120.0, -40.0), (-60.0, 30.0), (0.0, -20.0), (60.0, 40.0), (120.0, -30.0)]
)
HOT_JITTER = 10.0
HOT_SHARE = 0.5

LANGS = np.array(["en", "de", "fr", "es", "ru"])
WORDS = np.array(
    (
        "data spark shuffle join scan filter agg window tile cell point box "
        "segment page host crawl text token index query batch row column value"
    ).split()
)
N_HOSTS = 1000
HOT_HOSTS = 5
EPOCH_S = 1767225600  # 2026-01-01T00:00:00Z


def hot_centers(rng: np.random.Generator) -> np.ndarray:
    return HOT_SLOTS + rng.uniform(-HOT_JITTER, HOT_JITTER, HOT_SLOTS.shape)


def mixed_xy(
    rng: np.random.Generator, n: int, centers: np.ndarray, sigma: float
) -> tuple[np.ndarray, np.ndarray]:
    """``n`` locations: HOT_SHARE of them normal around a random hot centre,
    the rest uniform over the world box."""
    hot = rng.random(n) < HOT_SHARE
    which = rng.integers(0, len(centers), n)
    x = np.where(
        hot, centers[which, 0] + rng.normal(0.0, sigma, n), rng.uniform(-180, 180, n)
    )
    y = np.where(
        hot, centers[which, 1] + rng.normal(0.0, sigma, n), rng.uniform(-90, 90, n)
    )
    return np.clip(x, -180.0, 180.0), np.clip(y, -90.0, 90.0)


def write_parquet(table: pa.Table, path: pathlib.Path, files: int) -> str:
    """Write ``table`` as ``files`` parquet files so a scan has that many
    splits (a single file would be read by one task)."""
    path.mkdir(parents=True, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, path / f"part-{i:04d}.parquet")
    return str(path)


# -- crawl pages -----------------------------------------------------------
def pages(
    rng: np.random.Generator, page_ids: np.ndarray, seed: int,
    host: np.ndarray | None = None,
) -> tuple[pa.Table, np.ndarray]:
    """Common-Crawl-style pages ``page_id, url, warc_ts, html, lang``, and
    the host index of each page.

    Unless ``host`` is given, half of the pages sit on HOT_HOSTS hosts;
    geocoding places every page of a host around the host's anchor, so these
    hosts become hot cells.  Host names carry the seed, so anchors move from
    seed to seed."""
    n = len(page_ids)
    if host is None:
        hot = rng.random(n) < HOT_SHARE
        host = np.where(
            hot, rng.integers(0, HOT_HOSTS, n), rng.integers(HOT_HOSTS, N_HOSTS, n)
        )
    path = rng.integers(0, 2**62, n)
    urls = [f"https://h{h}.s{seed}.example/{p:016x}" for h, p in zip(host, path)]
    n_words = rng.integers(5, 65, n)
    picks = WORDS[rng.integers(0, len(WORDS), (n, 64))]
    scripted = rng.random(n) < 0.25
    html = [
        (
            ("<html><head><script>var t=1;</script></head>" if s else "<html>")
            + "<body><p>"
            + " ".join(row[:k])
            + "</p></body></html>"
        ).encode()
        for row, k, s in zip(picks, n_words, scripted)
    ]
    table = pa.table(
        {
            "page_id": pa.array(page_ids, pa.int64()),
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array(
                (EPOCH_S + rng.integers(0, 86_400, n)) * 1_000_000,
                pa.timestamp("us"),
            ),
            "html": pa.array(html, pa.binary()),
            "lang": pa.array(LANGS[rng.integers(0, len(LANGS), n)], pa.string()),
        }
    )
    return table, host


#: hosts one re-crawl batch visits: one hot host and a few cold ones
RECRAWL_HOSTS = 8


def upsert_batch(
    rng: np.random.Generator, base_host: np.ndarray, next_id: int, n: int, seed: int
) -> tuple[pa.Table, np.ndarray, np.ndarray]:
    """A re-crawl batch over RECRAWL_HOSTS hosts, as a crawler revisits site
    by site: half of it re-crawls existing pages of those hosts at a new url
    (the page moves within its host), half is new pages on them.  Returns
    ``(table, moved, new)``; ``base_host[i]`` is the host of base page ``i``."""
    hosts = np.concatenate([
        rng.choice(HOT_HOSTS, 1),
        rng.choice(np.arange(HOT_HOSTS, N_HOSTS), RECRAWL_HOSTS - 1, replace=False),
    ])
    pool = np.flatnonzero(np.isin(base_host, hosts))
    moved = rng.choice(pool, n // 2, replace=False).astype(np.int64)
    new = np.arange(next_id, next_id + (n - n // 2), dtype=np.int64)
    host = np.concatenate([base_host[moved], rng.choice(hosts, len(new))])
    table, _ = pages(rng, np.concatenate([moved, new]), seed, host)
    return table, moved, new


# -- geometry --------------------------------------------------------------
def boxes(
    rng: np.random.Generator, n: int, centers: np.ndarray, sigma: float,
    half_x: tuple[float, float], half_y: tuple[float, float],
) -> dict[str, np.ndarray]:
    """``n`` axis-aligned boxes around mixed centres, half-width uniform in
    ``half_x`` and half-height uniform in ``half_y``."""
    cx, cy = mixed_xy(rng, n, centers, sigma)
    hx = rng.uniform(*half_x, n)
    hy = rng.uniform(*half_y, n)
    return {
        "min_x": cx - hx, "max_x": cx + hx, "min_y": cy - hy, "max_y": cy + hy,
    }


def segments(
    rng: np.random.Generator, n: int, centers: np.ndarray, sigma: float,
    mean_len: float,
) -> dict[str, np.ndarray]:
    """``n`` segments starting at mixed points, random direction,
    exponential length (never zero)."""
    x1, y1 = mixed_xy(rng, n, centers, sigma)
    ang = rng.uniform(0.0, 2 * np.pi, n)
    ln = rng.exponential(mean_len, n) + 1e-6
    return {
        "x1": x1, "y1": y1,
        "x2": np.clip(x1 + ln * np.cos(ang), -180, 180),
        "y2": np.clip(y1 + ln * np.sin(ang), -90, 90),
    }


# -- brute-force answers ---------------------------------------------------
def box_hits(px, py, b) -> np.ndarray:
    """Indices of points inside the closed box ``b`` (a mapping)."""
    return np.flatnonzero(
        (b["min_x"] <= px) & (px <= b["max_x"]) & (b["min_y"] <= py) & (py <= b["max_y"])
    )


def ball_hits(px, py, qx, qy, r) -> np.ndarray:
    d2 = (px - qx) * (px - qx) + (py - qy) * (py - qy)
    return np.flatnonzero(d2 <= r * r)


def subset_hits(t, q) -> np.ndarray:
    """Indexed boxes ``t`` (arrays) inside probe box ``q`` (scalars)."""
    return np.flatnonzero(
        (q["min_x"] <= t["min_x"]) & (t["max_x"] <= q["max_x"])
        & (q["min_y"] <= t["min_y"]) & (t["max_y"] <= q["max_y"])
    )


def superset_hits(t, q) -> np.ndarray:
    return np.flatnonzero(
        (t["min_x"] <= q["min_x"]) & (q["max_x"] <= t["max_x"])
        & (t["min_y"] <= q["min_y"]) & (q["max_y"] <= t["max_y"])
    )


def overlap_hits(t, q) -> np.ndarray:
    """Strict interior overlap: boxes sharing only an edge do not overlap."""
    return np.flatnonzero(
        (q["min_x"] < t["max_x"]) & (t["min_x"] < q["max_x"])
        & (q["min_y"] < t["max_y"]) & (t["min_y"] < q["max_y"])
    )


def _d2_point_segment(px, py, x1, y1, x2, y2):
    """Clamped-projection squared distance, in the engine metric's operation
    order so float64 results agree to the last bit."""
    len2 = (x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1)
    dot = (px - x1) * (x2 - x1) + (py - y1) * (y2 - y1)
    with np.errstate(divide="ignore", invalid="ignore"):
        t = np.where(len2 <= 0.0, 0.0, np.minimum(1.0, np.maximum(0.0, dot / len2)))
    cx = x1 + t * (x2 - x1)
    cy = y1 + t * (y2 - y1)
    return (px - cx) * (px - cx) + (py - cy) * (py - cy)


def _cross(ox, oy, ax, ay, bx, by):
    return (ax - ox) * (by - oy) - (ay - oy) * (bx - ox)


def d2_segment_segment(q, s) -> np.ndarray:
    """Squared distance between probe segment ``q`` (scalars) and every
    segment of ``s`` (arrays): 0 on a proper crossing, else the least of the
    four endpoint-to-segment distances."""
    a1x, a1y, a2x, a2y = q["x1"], q["y1"], q["x2"], q["y2"]
    b1x, b1y, b2x, b2y = s["x1"], s["y1"], s["x2"], s["y2"]
    o1 = _cross(a1x, a1y, a2x, a2y, b1x, b1y)
    o2 = _cross(a1x, a1y, a2x, a2y, b2x, b2y)
    o3 = _cross(b1x, b1y, b2x, b2y, a1x, a1y)
    o4 = _cross(b1x, b1y, b2x, b2y, a2x, a2y)
    cross = (((o1 > 0) & (o2 < 0)) | ((o1 < 0) & (o2 > 0))) & (
        ((o3 > 0) & (o4 < 0)) | ((o3 < 0) & (o4 > 0))
    )
    d = np.minimum.reduce([
        _d2_point_segment(a1x, a1y, b1x, b1y, b2x, b2y),
        _d2_point_segment(a2x, a2y, b1x, b1y, b2x, b2y),
        _d2_point_segment(b1x, b1y, a1x, a1y, a2x, a2y),
        _d2_point_segment(b2x, b2y, a1x, a1y, a2x, a2y),
    ])
    return np.where(cross, 0.0, d)


def top_k(d2: np.ndarray, k: int) -> list[tuple[int, float]]:
    """The k smallest ``(id, dist2)`` pairs of ``d2`` (indexed by id),
    distance ties by ascending id."""
    kth = np.partition(d2, k - 1)[k - 1]
    cand = np.flatnonzero(d2 <= kth)
    order = cand[np.lexsort((cand, d2[cand]))][:k]
    return [(int(i), float(d2[i])) for i in order]


def knn_matches(got: list[tuple[int, float]], d2: np.ndarray, k: int) -> bool:
    """``got`` (ranked ``(id, dist2)``) is the exact top-k under ``d2``.

    Distances may differ from the brute-force ones by float rounding (1e-12
    relative): two formulas for one distance may differ in the last bit.
    Ids may not: within every group of equal brute-force distances (an exact
    tie, such as dist2 = 0 for every segment a probe crosses) the ids must be
    the brute-force ids, ascending, and a neighbour outside such a group may
    only be swapped for another within rounding of the same distance."""
    want = top_k(d2, k)
    if got == want:
        return True
    if len(got) != len(want) or len({i for i, _ in got}) != len(got):
        return False
    tol = 1e-12 * max(want[-1][1], 1e-300)
    if not all(
        0 <= gi < len(d2) and abs(gd - wd) <= tol and abs(d2[gi] - gd) <= tol
        for (gi, gd), (_, wd) in zip(got, want)
    ):
        return False
    wd = np.array([d for _, d in want])
    for d in np.unique(wd):
        ranks = np.flatnonzero(wd == d)
        tied = int((d2 == d).sum()) > 1
        if tied and [got[r][0] for r in ranks] != [want[r][0] for r in ranks]:
            return False
    return True
