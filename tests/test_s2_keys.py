"""The SQL-text stab keys of the "jvm" strategy (functions/s2_expr.py)
equal the numpy kernel's keys of the point's ancestor cell, level by
level, on all six cube faces and right next to the face edges."""

import numpy as np
import pandas as pd
import pytest

from insideout_spark.functions.s2_expr import with_fij_keys
from insideout_spark.geo import s2 as geo_s2

EDGE_EPS = 1e-9  # degrees off a face edge: far above 1-ulp trig noise


def _probe_points(seed: int = 11) -> tuple:
    rng = np.random.default_rng(seed)
    # uniform on the sphere
    lat = [np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, 1200)))]
    lng = [rng.uniform(-180.0, 180.0, 1200)]
    # just either side of the four meridian edges between equatorial faces
    for edge in (-135.0, -45.0, 45.0, 135.0):
        for side in (-EDGE_EPS, EDGE_EPS):
            lat.append(rng.uniform(-30.0, 30.0, 40))
            lng.append(np.full(40, edge + side))
    # just either side of the edges between equatorial and polar faces,
    # where |z| equals the largest of |x|, |y|
    for hemi in (-1.0, 1.0):
        for side in (-EDGE_EPS, EDGE_EPS):
            g = rng.uniform(-180.0, 180.0, 80)
            edge = np.degrees(np.arctan(np.maximum(np.abs(np.cos(np.radians(g))),
                                                   np.abs(np.sin(np.radians(g))))))
            lat.append(hemi * (edge + side))
            lng.append(g)
    return np.concatenate(lat), np.concatenate(lng)


@pytest.mark.parametrize("min_level,max_level", [(8, 14), (0, 28)])
def test_sql_keys_match_numpy_kernel(spark, min_level, max_level):
    lat, lng = _probe_points()
    leaf = geo_s2.latlng_to_cell(lat, lng)
    faces, *_ = geo_s2.to_face_ij(leaf)
    assert set(np.unique(faces)) == set(range(6))

    df = spark.createDataFrame(pd.DataFrame({"pid": np.arange(len(lat)), "lat": lat, "lng": lng}))
    got = with_fij_keys(df, "lat", "lng", min_level, max_level).toPandas()
    assert list(got.columns) == ["pid", "lat", "lng", "fij_key"]

    want = []
    for lv in range(min_level, max_level + 1):
        keys = geo_s2.fij_keys(geo_s2.parent(leaf, lv))
        want.append(pd.DataFrame({"pid": np.arange(len(lat)), "fij_key": keys}))
    want = pd.concat(want)
    key = ["pid", "fij_key"]
    got_sorted = got[key].sort_values(key).reset_index(drop=True)
    want_sorted = want.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got_sorted, want_sorted, check_dtype=False)
