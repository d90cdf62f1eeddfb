import json
import os

import numpy as np

from perfbench import oracle

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the six golden stab points of FIXTURES.md §4 and their exact answers:
# inside loop (feature 0, loop_pos 1) or nowhere
GOLDEN = [
    (47.39444367083928, -2.992874768945723, True),
    (47.39650628189986, -2.9876390969486524, True),
    (47.38297924900667, -2.961873380366456, False),
    (47.37616957736262, -3.004367209321472, False),
    (47.3944602327291, -2.9924373872714556, True),
    (47.38297924900667, -2.961873380366456, False),
]


def _houat_loops():
    with open(os.path.join(ROOT, "tests", "golden", "houat.geojson")) as f:
        fc = json.load(f)
    rows = []
    for fid, feat in enumerate(fc["features"]):
        for pos, poly in enumerate(feat["geometry"]["coordinates"]):
            rows.append({"feature_id": fid, "loop_pos": pos, "ring": poly[0]})
    return rows


def test_brute_force_pip_matches_golden_stab_points():
    lat = np.array([g[0] for g in GOLDEN])
    lng = np.array([g[1] for g in GOLDEN])
    got = oracle.brute_force_pip(lat, lng, _houat_loops())
    want = oracle.hit_keys([i for i, g in enumerate(GOLDEN) if g[2]], [0, 0, 0], [1, 1, 1])
    assert sorted(got.tolist()) == sorted(want.tolist())


def test_points_in_ring_open_boundary():
    square = [[0, 0], [2, 0], [2, 2], [0, 2], [0, 0]]
    px = np.array([1.0, 0.0, 2.0, 1.0, 3.0, 1.0])
    py = np.array([1.0, 1.0, 1.0, 0.0, 1.0, 2.0])
    assert oracle.points_in_ring(px, py, square).tolist() == [True, False, False, False, False, False]


def test_compare_keys_reports_each_kind_of_mismatch():
    want = oracle.hit_keys([1, 2, 3], [0, 0, 1], [0, 0, 0])
    got = oracle.hit_keys([1, 1, 2, 4], [0, 0, 0, 1], [0, 0, 0, 0])
    c = oracle.compare_keys(want, got)
    assert (c["missing"], c["extra"], c["duplicates"]) == (1, 1, 1)
    assert c["digest"] != c["expected_digest"]
    same = oracle.compare_keys(want, want[::-1])
    assert same["digest"] == same["expected_digest"] and same["missing"] == same["extra"] == 0


def test_ngram_check_counts_wrong_pairs():
    texts = ["a b c d e", "a b c d f", "x y z w v"]
    exact = len(oracle.ngram_set(texts[0]) & oracle.ngram_set(texts[1])) / len(
        oracle.ngram_set(texts[0]) | oracle.ngram_set(texts[1]))
    ok = oracle.check_ngram_pairs(texts, [0], [1], [exact], 0.3)
    assert ok == {"pairs": 1, "wrong": 0, "precision": 1.0}
    bad = oracle.check_ngram_pairs(texts, [0, 0, 1], [1, 2, 0], [exact, 0.5, exact], 0.3)
    assert bad["wrong"] == 2 and bad["precision"] == 1 / 3


def test_components_check():
    a, b = [1, 2, 7], [2, 3, 9]
    assert oracle.check_components(a, b, [1, 2, 3, 7, 9], [1, 1, 1, 7, 7]) == 0
    assert oracle.check_components(a, b, [1, 2, 3, 7, 9], [1, 1, 2, 7, 7]) == 1
    assert oracle.check_components(a, b, [1, 2, 3, 7], [1, 1, 1, 7]) == 1


def test_minhash_check():
    assert oracle.check_minhash_pairs([1, 2], [2, 5], [12 / 32, 1.0], 0.35) == 0
    assert oracle.check_minhash_pairs([2, 1, 1], [1, 3, 3], [0.5, 0.3, 0.5], 0.35) == 3
