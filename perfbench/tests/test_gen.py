import numpy as np

from perfbench import gen


def test_pages_same_seed_same_inputs():
    a, b = gen.pages(7, 2000, 0.3, (47.0, 2.0)), gen.pages(7, 2000, 0.3, (47.0, 2.0))
    assert a["url"] == b["url"] and a["text"] == b["text"]
    assert np.array_equal(a["lat"], b["lat"]) and np.array_equal(a["lng"], b["lng"])
    assert gen.pages(8, 2000, 0.3, (47.0, 2.0))["text"] != a["text"]


def test_hot_point_is_inside_a_commune():
    from perfbench import oracle

    layer = gen.communes(4, 100)
    for seed in range(5):
        lat, lng = gen.hot_point(seed, layer)
        assert len(oracle.brute_force_pip([lat], [lng], layer)) == 1


def test_pages_carry_their_point_and_hot_share():
    p = gen.pages(3, 20000, 0.3, gen.hot_point(3, gen.communes(3, 50)))
    lat0, lat1, lng0, lng1 = gen.FRANCE_BBOX
    assert ((p["lat"] >= lat0) & (p["lat"] <= lat1)).all()
    assert ((p["lng"] >= lng0) & (p["lng"] <= lng1)).all()
    # the text holds exactly the double the oracle uses
    for i in (0, 5, 19999):
        tok = p["text"][i].split("geo:")[1].split()[0]
        assert tuple(map(float, tok.split(","))) == (p["lat"][i], p["lng"][i])
    _, counts = np.unique(p["lat"], return_counts=True)
    assert abs(counts.max() / len(p["lat"]) - 0.3) < 0.02


def test_communes_deterministic_and_disjoint():
    a, b = gen.communes(5, 60), gen.communes(5, 60)
    assert a == b and a != gen.communes(6, 60)
    boxes = [
        (min(x for x, _ in r["ring"]), max(x for x, _ in r["ring"]),
         min(y for _, y in r["ring"]), max(y for _, y in r["ring"]))
        for r in a
    ]
    for i, (x0, x1, y0, y1) in enumerate(boxes):
        assert a[i]["ring"][0] == a[i]["ring"][-1]
        for u0, u1, v0, v1 in boxes[i + 1:]:
            assert x1 < u0 or u1 < x0 or y1 < v0 or v1 < y0


def test_corpus_deterministic_with_copies_and_shared_opening():
    ids, texts = gen.corpus(11, 3000)
    assert texts == gen.corpus(11, 3000)[1] and texts != gen.corpus(12, 3000)[1]
    assert list(ids) == list(range(3000))
    shared = sum(t.startswith("le monde ") for t in texts)
    assert 0.05 < shared / len(texts) < 0.15
