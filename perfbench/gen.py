"""Seeded input generators for the benchmark.

Everything the program receives is made here from `--seed`, with numpy's
PCG64 generator, so the same seed gives byte-identical inputs. The
program only ever sees the resulting data: pages (url, text), loop rows
of a polygon layer, and a (doc_id, text) corpus.
"""

from __future__ import annotations

import numpy as np

# the reference loadtester's France bbox (lat0, lat1, lng0, lng1)
FRANCE_BBOX = (46.63, 49.10, -1.10, 5.5)


def _rng(seed: int, stream: int) -> np.random.Generator:
    # one independent stream per generator, so resizing one input never
    # changes another input of the same seed
    return np.random.default_rng([int(seed), int(stream)])


def points(seed: int, n: int, hot_share: float, hot_point):
    """(lat, lng) float64 arrays and their text forms: uniform over the
    France bbox, with `hot_share` of the rows snapped to one hot
    (lat, lng) point (a crawl that keeps hitting one city). Coordinates
    are rounded to the 7 decimals that the page text carries, so the
    oracle and the program see the same doubles."""
    rng = _rng(seed, 1)
    lat0, lat1, lng0, lng1 = FRANCE_BBOX
    lat = rng.uniform(lat0, lat1, n)
    lng = rng.uniform(lng0, lng1, n)
    if hot_share > 0:
        hot = rng.random(n) < hot_share
        lat[hot], lng[hot] = hot_point
    lat_s = np.char.mod("%.7f", lat)
    lng_s = np.char.mod("%.7f", lng)
    return lat_s.astype(np.float64), lng_s.astype(np.float64), lat_s, lng_s


def pages(seed: int, n: int, hot_share: float, hot_point):
    """Pages table columns: url, text (with one `geo:lat,lng` token) and
    the exact point each page carries."""
    lat, lng, lat_s, lng_s = points(seed, n, hot_share, hot_point)
    urls = [f"https://bench.example/{i}" for i in range(n)]
    texts = [f"page {i} near geo:{a},{b} body" for i, a, b in zip(range(n), lat_s.tolist(), lng_s.tolist())]
    return {"url": urls, "text": texts, "lat": lat, "lng": lng}


def hot_point(seed: int, loop_rows):
    """(lat, lng) of the centre of one polygon of the layer, drawn from
    the seed: the hot cell always lies in a commune, as a city does, so
    every seed gives the probe the same kind of skew."""
    ring = np.asarray(loop_rows[int(_rng(seed, 4).integers(len(loop_rows)))]["ring"][:-1])
    return float(ring[:, 1].mean()), float(ring[:, 0].mean())


# vertices per commune ring, before the closing vertex
VERTICES = 48


def communes(seed: int, n: int):
    """Commune-like layer: n wobbly star-shaped polygons, one per cell of
    a grid over the France bbox. Each ring stays inside its own grid
    cell (radius <= 0.45 of the cell), so the polygons never overlap and
    a point hits at most one of them. Returns loop rows in the format of
    `insideout_spark.geo.geojson.parse_feature_collection`."""
    rng = _rng(seed, 2)
    lat0, lat1, lng0, lng1 = FRANCE_BBOX
    cols = max(1, int(round(np.sqrt(n * (lng1 - lng0) / (lat1 - lat0)))))
    rows_n = -(-n // cols)
    dlng = (lng1 - lng0) / cols
    dlat = (lat1 - lat0) / rows_n
    r_idx, c_idx = np.divmod(np.arange(n), cols)
    # centre jitter + per-polygon wobble phase, frequency and depth
    cx = lng0 + (c_idx + 0.5 + rng.uniform(-0.05, 0.05, n)) * dlng
    cy = lat0 + (r_idx + 0.5 + rng.uniform(-0.05, 0.05, n)) * dlat
    phase = rng.uniform(0, 2 * np.pi, n)
    freq = rng.integers(3, 9, n)
    depth = rng.uniform(0.1, 0.3, n)
    ang = 2.0 * np.pi * np.arange(VERTICES) / VERTICES
    wob = 0.7 + depth[:, None] * np.sin(freq[:, None] * ang[None, :] + phase[:, None])
    xs = cx[:, None] + 0.45 * dlng * wob * np.cos(ang)[None, :]
    ys = cy[:, None] + 0.45 * dlat * wob * np.sin(ang)[None, :]
    xs = np.concatenate([xs, xs[:, :1]], axis=1)
    ys = np.concatenate([ys, ys[:, :1]], axis=1)
    rings = np.stack([xs, ys], axis=2).tolist()
    return [
        {
            "feature_id": fid,
            "loop_pos": 0,
            "ring": rings[fid],
            "properties": {"name": f"commune-{fid:05d}", "admin_level": "8"},
            "admin_level": 8.0,
        }
        for fid in range(n)
    ]


# near-dup corpus shape: words per document, a Zipf(1.1) law over a
# 20k-word vocabulary, 20% copies of an earlier document with 5% of the
# words replaced, 10% of the originals opening with one shared bigram
DOC_WORDS = (20, 60)
VOCAB, ZIPF_A = 20000, 1.1
DUP_SHARE, EDIT_SHARE, SHARED_OPEN_SHARE = 0.2, 0.05, 0.1


def corpus(seed: int, n: int):
    """Near-dup corpus: (doc_ids, texts). The shared opening bigram
    makes one oversized ngram block."""
    rng = _rng(seed, 3)
    cdf = np.cumsum(np.arange(1, VOCAB + 1, dtype=np.float64) ** -ZIPF_A)
    cdf /= cdf[-1]
    words = np.array([f"w{i}" for i in range(VOCAB)])

    def draw(k):
        return words[np.minimum(np.searchsorted(cdf, rng.random(k)), VOCAB - 1)]

    lens = rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1, n)
    is_dup = rng.random(n) < DUP_SHARE
    is_dup[0] = False
    shared = ~is_dup & (rng.random(n) < SHARED_OPEN_SHARE)
    body = draw(int(lens.sum())).tolist()
    offs = np.concatenate([[0], np.cumsum(lens)]).tolist()
    toks = [None] * n
    for i in range(n):
        if is_dup[i]:
            src = list(toks[int(rng.integers(0, i))])
            k = max(1, int(round(EDIT_SHARE * len(src))))
            for j, w in zip(rng.choice(len(src), size=k, replace=False).tolist(), draw(k).tolist()):
                src[j] = w
            toks[i] = src
        else:
            t = body[offs[i] : offs[i + 1]]
            if shared[i]:
                t[:2] = ["le", "monde"]
            toks[i] = t
    return np.arange(n, dtype=np.int64), [" ".join(t) for t in toks]
